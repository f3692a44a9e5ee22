"""Repo-hygiene gates (VERDICT r5 item 6): source files must stay
below the monolith threshold so promotion rounds keep dissolving the
query registry into domain modules instead of re-growing one file,
and no caller may import a package module that no longer exists.
"""

import ast
import importlib
import importlib.util
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "dbt_lakehouse_aws_spark"

#: hard ceiling for any non-test source file (standard_queries.py
#: peaked at 8,477 before the round-6 split; staged_r6.py at 11,268)
MAX_SOURCE_LINES = 6_000


def test_no_source_monoliths():
    offenders = {}
    for p in PKG.rglob("*.py"):
        n = sum(1 for _ in p.open())
        if n > MAX_SOURCE_LINES:
            offenders[str(p.relative_to(PKG))] = n
    assert not offenders, (
        f"files above {MAX_SOURCE_LINES} lines — split into domain "
        f"modules (see queries_r6.py / queries_llm.py): {offenders}"
    )


def _package_imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    """``(module, name)`` for every package import in ``path`` at any
    depth: ``import pkg.mod`` gives ``(pkg.mod, None)`` and ``from
    pkg.mod import x`` gives ``(pkg.mod, x)``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            found += [(node.module, a.name) for a in node.names]
    return [(m, n) for m, n in found if m.split(".")[0] == PKG.name]


def _resolves(module: str, name: str | None) -> bool:
    try:
        spec = importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return False
    if spec is None:
        return False
    if name is None or name == "*" or spec.submodule_search_locations is None:
        return True
    # ``from package import x``: x is a submodule or a package attribute
    return importlib.util.find_spec(f"{module}.{name}") is not None or hasattr(
        importlib.import_module(module), name
    )


def test_no_dangling_package_imports():
    """Entry points, scripts, the benchmark and the tests import only
    package modules that exist, so deleting a module cannot leave a
    caller behind (e.g. a script still importing a removed query
    module). Static: no Spark session, no query built."""
    root = PKG.parent
    files = [root / "bench.py", root / "__spark_entry__.py"]
    for d in ("scripts", "perfbench", "tests"):
        files += sorted((root / d).glob("*.py"))
    missing = {}
    for f in files:
        bad = [f"{m}:{n}" if n else m for m, n in _package_imports(f) if not _resolves(m, n)]
        if bad:
            missing[str(f.relative_to(root))] = bad
    assert not missing, f"imports of missing package modules: {missing}"


#: the deployment settings ``session.py`` reads; every other tunable is
#: a constant in code, so a run's behaviour never hangs on a stray
#: environment variable
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_DRIVER_MEM",
}


def _env_reads(path: pathlib.Path) -> list[str]:
    """Keys read through ``os.environ.get(k)``, ``os.environ[k]`` or
    ``os.getenv(k)``; a key that is not a string literal reads as
    ``<dynamic>``."""

    def is_os_environ(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    def key(node) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    keys = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
            f = node.func
            env_get = f.attr == "get" and is_os_environ(f.value)
            getenv = f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            if env_get or getenv:
                keys.append(key(node.args[0]))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and is_os_environ(node.value)
        ):
            keys.append(key(node.slice))
    return keys


def test_package_reads_only_deployment_env_vars():
    """The package reads no environment variable beyond the deployment
    settings in ``session.py``: an env knob is an untested option.
    Static: no Spark session."""
    extra = {}
    for p in sorted(PKG.rglob("*.py")):
        bad = sorted(set(_env_reads(p)) - DEPLOYMENT_ENV)
        if bad:
            extra[str(p.relative_to(PKG))] = bad
    assert not extra, f"environment reads outside {sorted(DEPLOYMENT_ENV)}: {extra}"


#: unregistered staged-query inventory awaiting deletion; its
#: createDataFrame calls go with it rather than being converted
STAGED_INVENTORY = {f"staged_r{n}.py" for n in (10, 11, 12, 13)}


def _row_literal_frames(path: pathlib.Path) -> list[int]:
    """Lines of ``createDataFrame`` calls whose data argument is a
    list, tuple or comprehension literal."""
    literal = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if isinstance(data, literal):
                lines.append(node.lineno)
    return lines


def test_driver_rows_become_frames_only_through_local_frame():
    """Driver-side rows become a DataFrame only through
    ``localframe.local_frame`` (an Arrow LocalRelation): a
    ``createDataFrame(<list>)`` plan is a pickled-row RDD that
    re-runs Python workers on every action. Static: no Spark session."""
    offenders = {}
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "localframe.py" or p.name in STAGED_INVENTORY:
            continue
        lines = _row_literal_frames(p)
        if lines:
            offenders[str(p.relative_to(PKG))] = lines
    assert not offenders, f"createDataFrame over python rows (use local_frame): {offenders}"


def test_write_decisions_live_only_in_the_kernel():
    """The three write decisions of the ACID, Delta and Iceberg tables
    are made once, in ``sources/tablefiles.py``: the put-if-absent
    commit (``os.link``; ``O_EXCL`` opens leave a partial version file
    visible) and the parquet footer statistics reads. Iceberg's Avro
    manifest-entry and manifest-list schemas are defined once in the
    package. Static text scan: no Spark session."""
    kernel = PKG / "sources" / "tablefiles.py"
    offenders = {}
    for p in sorted((PKG / "sources").glob("*.py")):
        if p == kernel:
            continue
        text = p.read_text()
        found = [t for t in ("os.O_EXCL", "os.link(") if t in text]
        found += [".statistics"] if re.search(r"\.statistics\b", text) else []
        if found:
            offenders[p.name] = found
    assert not offenders, f"write decisions outside tablefiles.py: {offenders}"
    for name in ('"manifest_entry"', '"manifest_file"'):
        defs = {
            str(p.relative_to(PKG)): p.read_text().count(name)
            for p in PKG.rglob("*.py")
            if name in p.read_text()
        }
        assert sum(defs.values()) == 1, f"{name} schema defined in {defs}"


def test_landing_decisions_live_only_in_their_modules():
    """Whether a txn batch already landed is decided once, inside
    ``sources/acid.py`` (callers hand the table a frame and a txn, and
    never ask ``last_txn_batch`` themselves); a directory tree is
    removed only by ``sources/tablefiles.py``, for its own staging dir
    (no sink replaces a table by delete-then-rename). Static text
    scan: no Spark session."""
    owners = {"last_txn_batch(": "sources/acid.py", "shutil.rmtree(": "sources/tablefiles.py"}
    offenders = {
        token: sorted(
            str(p.relative_to(PKG))
            for p in PKG.rglob("*.py")
            if token in p.read_text() and str(p.relative_to(PKG)) != owner
        )
        for token, owner in owners.items()
    }
    assert not any(offenders.values()), f"landing decisions outside their owners: {offenders}"


def test_only_the_copy_on_write_kernel_pins_files():
    """Which files a MERGE, DELETE or replace_where rewrites is decided
    in one place: the copy-on-write kernel in ``sources/acid.py`` is
    the only scan that keeps each row's data-file name. Static text
    scan: no Spark session."""
    token = 'keep_file_col="_file"'
    hits = {
        str(p.relative_to(PKG)): p.read_text().count(token)
        for p in PKG.rglob("*.py")
        if token in p.read_text()
    }
    assert hits == {"sources/acid.py": 1}, f"file pinning outside the kernel: {hits}"



def test_execution_profiles_live_only_in_session():
    """Sessions are made, and their execution profile (the keys of
    ``session.BOUNDED_CONF``) is set, only in ``session.py``: a key
    elsewhere in the package is only read (``conf.get``). Static:
    no Spark session."""
    from dbt_lakehouse_aws_spark.session import BOUNDED_CONF

    offenders = {}
    for p in sorted(PKG.rglob("*.py")):
        if p == PKG / "session.py":
            continue
        text = p.read_text()
        tree = ast.parse(text, filename=str(p))
        reads = {
            id(node.args[0])
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and node.args
        }
        found = sorted(
            {
                node.value
                for node in ast.walk(tree)
                if isinstance(node, ast.Constant)
                and node.value in BOUNDED_CONF
                and id(node) not in reads
            }
        )
        found += ["newSession("] if "newSession(" in text else []
        if found:
            offenders[str(p.relative_to(PKG))] = found
    assert not offenders, f"execution profile set outside session.py: {offenders}"
