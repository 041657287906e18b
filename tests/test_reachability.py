"""Every public library entry point is reached from a non-test caller,
and the library reads no environment variable beyond its deployment
settings.

A pure-AST scan, no Spark session. The roots are every statement of the
non-test ``.py`` files outside ``movie_rec_spark/`` (``__spark_entry__``,
``bench.py``, ``perfbench/``, ``tools/``) and the package's own
module-level statements other than imports, so a re-export in a package
``__init__`` reaches nothing. A top-level ``def`` or ``class`` of the
package reaches every name its body references (as a name, an attribute
or an import alias), and a name reaches every package def of that name.
Each public def must be reached from the roots through that graph: a
reference from a def that is itself unreached does not count. Code that
only tests reach is either given a caller on a measured or declared
path, deleted, or listed in ``KEPT`` with the reason it stays; what a
``KEPT`` def reaches is exempt with it. Every ``os.environ`` /
``os.getenv`` read in ``movie_rec_spark/`` must name a variable in
``ENV_SETTINGS``, so tuning knobs that nothing sets cannot grow back
unnoticed. Likewise every Spark write in ``movie_rec_spark/`` must sit
in a top-level def listed in ``WRITERS``, so a second way to publish
files cannot grow back beside the snapshot commit unnoticed.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "movie_rec_spark"
# test utilities by design: plan-introspection helpers for the plan tests
EXEMPT_MODULES = {PACKAGE / "plans"}
SKIP_DIRS = {".git", "tests", "spark-warehouse", "__pycache__"}

# where the session runs and what it reads: set by deployments, the
# benchmark and the tier-1 command, not tuning knobs
ENV_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEM",
    "SPARK_CHECKPOINT_DIR",
    "MRS_SCRATCH_DIR",
}

# the package's only Spark writers (top-level def -> why it writes)
WRITERS = {
    "run_pipeline": "the refresh job publishes its gold tables",
    "_write_data_files": ("the snapshot commit's data files; the "
                          "manifest publishes them"),
    "write_bucketed": "layout fixture of the bucketed-join plan tests",
    "bucketed_table": "layout fixture of the bucketed-join plan tests",
    "write_partitioned": "layout fixture of the bucketed-join plan tests",
    "stage_batches": "replay harness: one file per delivered micro-batch",
    "replay_file_stream": "replay harness: the replayed stream's sink",
    "merge_stream_snapshot": ("the streamed sink; each batch commits "
                              "as a snapshot"),
}

KEPT = {
    "read_ratings_csv": "paper surface S1-S3: the reference's CSV inputs",
    "read_links_csv": "paper surface S1-S3: the reference's CSV inputs",
    "read_quoted_csv": "paper surface S1-S3: the reference's CSV inputs",
    "decode_rec_list": "S11 decode of the rec_kv value the refresh writes",
    "append_events": "M1/F7 append mutation",
    "evaluate_rmse_mae": "ML3; the RMSE gate uses it",
    "snapshot_append": "the versioned gold publish builds on snapshots",
    "snapshot_compact": "the versioned gold publish builds on snapshots",
    "snapshot_vacuum": "the versioned gold publish builds on snapshots",
    "manifest_entries": "the versioned gold publish builds on snapshots",
    "snapshot_merge_retry": "the snapshot concurrency tests drive it",
    "write_bucketed": "fixture of the bucketed-join plan tests",
    "write_partitioned": "fixture of the bucketed-join plan tests",
    "text_embedding": ("dense reference that tests compare knn_sparse/"
                       "q_rrf against"),
}


def _py_files(root: Path):
    for path in root.rglob("*.py"):
        rel = path.relative_to(root)
        if SKIP_DIRS.intersection(rel.parts[:-1]):
            continue
        if path.name.startswith("test_") or path.name == "conftest.py":
            continue
        yield path


DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names_used(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


@functools.cache
def _call_graph() -> tuple[frozenset, dict[str, set[str]], dict[str, str]]:
    """(names the roots reference, names each package def references,
    public package def -> module)."""
    roots: set[str] = set()
    refs: dict[str, set[str]] = {}
    public: dict[str, str] = {}
    for path in _py_files(ROOT):
        tree = ast.parse(path.read_text(), str(path))
        if not path.is_relative_to(PACKAGE):
            roots |= _names_used(tree)
            continue
        exempt = any(path.is_relative_to(m) for m in EXEMPT_MODULES)
        for node in tree.body:
            if isinstance(node, DEFS):
                refs.setdefault(node.name, set()).update(_names_used(node))
                if not exempt and not node.name.startswith("_"):
                    public[node.name] = str(path.relative_to(ROOT))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names_used(node)
    return frozenset(roots), refs, public


def reached(seeds) -> set[str]:
    """Every name the ``seeds`` reach through the package's defs."""
    _, refs, _ = _call_graph()
    seen: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(refs.get(name, ()))
    return seen


@functools.cache
def unreferenced() -> dict[str, str]:
    """Public library defs no root reaches, name -> module."""
    roots, _, public = _call_graph()
    live = reached(roots)
    return {n: m for n, m in public.items() if n not in live}


def test_every_public_library_def_has_a_non_test_caller():
    kept = reached(KEPT)
    missing = {n: m for n, m in unreferenced().items() if n not in kept}
    assert not missing, (
        "public defs reached from no non-test root (give them a caller, "
        f"delete them, or list them in KEPT): {sorted(missing.items())}")


def test_kept_names_still_exist_and_still_need_the_exemption():
    gone = set(KEPT) - set(unreferenced())
    assert not gone, f"KEPT entries no longer needed: {sorted(gone)}"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") \
        or (isinstance(node, ast.Name) and node.id == "environ")


def _env_keys(tree: ast.Module) -> list[ast.AST]:
    """The key expression of every environment read in ``tree``:
    ``environ.get/setdefault/pop(k)``, ``getenv(k)``, ``environ[k]`` and
    ``k in environ``."""
    keys = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and n.args and isinstance(
                n.func, ast.Attribute) and (
                (n.func.attr in ("get", "setdefault", "pop")
                 and _is_environ(n.func.value))
                or n.func.attr == "getenv"):
            keys.append(n.args[0])
        elif isinstance(n, ast.Subscript) and _is_environ(n.value):
            keys.append(n.slice)
        elif isinstance(n, ast.Compare) and any(
                isinstance(op, (ast.In, ast.NotIn)) for op in n.ops) \
                and any(_is_environ(c) for c in n.comparators):
            keys.append(n.left)
    return keys


def test_library_reads_only_deployment_env_settings():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        consts = {t.id: n.value.value for n in tree.body
                  if isinstance(n, ast.Assign)
                  and isinstance(n.value, ast.Constant)
                  for t in n.targets if isinstance(t, ast.Name)}
        for key in _env_keys(tree):
            if isinstance(key, ast.Constant):
                name = key.value
            elif isinstance(key, ast.Name):
                name = consts.get(key.id, f"<unresolved {key.id}>")
            else:
                name = f"<dynamic {ast.unparse(key)}>"
            if name not in ENV_SETTINGS:
                bad.append(f"{path.relative_to(ROOT)}:{key.lineno} {name}")
    assert not bad, (
        "environment reads outside the deployment settings "
        f"{sorted(ENV_SETTINGS)} (use a module constant or a "
        f"parameter instead): {bad}")


def _write_sites(tree: ast.Module):
    """(line, enclosing top-level def or None) of every Spark write in
    ``tree``: a ``.write`` or ``.writeStream`` property read (a call
    such as ``ZipFile.write(...)`` is not one), or a ``saveAsTable`` /
    ``writeTo`` call."""
    for top in tree.body:
        owner = top.name if isinstance(top, DEFS) else None
        called = {id(n.func) for n in ast.walk(top)
                  if isinstance(n, ast.Call)}
        for n in ast.walk(top):
            if not isinstance(n, ast.Attribute):
                continue
            if (n.attr in ("write", "writeStream") and id(n) not in called) \
                    or n.attr in ("saveAsTable", "writeTo"):
                yield n.lineno, owner


def test_library_writes_only_from_listed_writers():
    bad, used = [], set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for line, owner in _write_sites(tree):
            used.add(owner)
            if owner not in WRITERS:
                bad.append(f"{path.relative_to(ROOT)}:{line} in {owner}")
    assert not bad, (
        "Spark writes outside the listed writers (publish through the "
        f"snapshot commit, or list the def in WRITERS): {bad}")
    stale = set(WRITERS) - used
    assert not stale, f"WRITERS entries that no longer write: {sorted(stale)}"
