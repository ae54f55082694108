"""The Python workers' zipimport guard (``caspr_spark.workers``): a reused
worker re-reads no unchanged archive per task, also after a pass whose
kernel is a closure over numpy only; a rewritten or replaced archive is
still re-read; every function the engine ships to workers is marked;
and the driver process is left as it is."""

import ast
import contextlib
import glob
import json
import os
import subprocess
import sys
import textwrap
import types
import uuid
import zipimport

import pytest

from caspr_spark import workers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = (3, 10) <= sys.version_info[:2] < (3, 13)


def _invalidation_reads():
    """A function for a worker that returns how many archive directories
    one ``importlib.invalidate_caches()`` (what PySpark's
    ``setup_spark_files`` runs per task) reads, the module of the
    installed ``zipimporter.invalidate_caches`` and the version. It is
    nested, so cloudpickle ships it by value: the worker does not import
    this test module (which imports caspr_spark)."""
    def reads():
        import importlib
        import sys
        import zipimport
        read, calls = zipimport._read_directory, []

        def counted(archive):
            calls.append(archive)
            return read(archive)
        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return (len(calls),
                zipimport.zipimporter.invalidate_caches.__module__,
                sys.version_info[:2])
    return reads


def _guarded(calls, module, version):
    return (calls, module) == (0, "caspr_spark.workers") \
        or not (3, 10) <= tuple(version) < (3, 13)


@contextlib.contextmanager
def _fresh_workers(spark):
    """Run the block's Python passes on a new pool of Python workers: the
    JVM keys its worker pools by the functions' environment, so one more
    variable in it starts a daemon that has run no task yet."""
    env = spark.sparkContext.environment
    env["CASPR_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        yield
    finally:
        del env["CASPR_TEST_WORKER_POOL"]


def test_reused_worker_reads_no_archive(spark):
    """Each task's ``importlib.invalidate_caches()`` (PySpark's
    ``setup_spark_files``) reads no archive directory in a worker that
    has unpickled a caspr_spark pass."""
    from caspr_spark.train_distributed import _fold_partitions

    reads = _invalidation_reads()

    def probe(batches, model, state):
        out = reads()
        for _ in batches:
            pass
        return out

    df = spark.range(0, 400, numPartitions=4).cache()
    try:
        _fold_partitions(df, lambda b, m, s: sum(map(len, b)), who="warm")
        parts = _fold_partitions(df, probe, who="probe")
    finally:
        df.unpersist()
    assert len(parts) == 4
    for _, probed in parts:
        assert _guarded(*probed), probed


def test_closure_only_pass_installs_guard(spark):
    """A fresh worker whose only caspr_spark pass was ``score_linear`` — a
    pandas UDF closing over one ndarray, which cloudpickle ships by value
    — has the guard installed: its next task reads no archive."""
    from caspr_spark.score import score_linear

    reads = _invalidation_reads()

    def probe(batches):
        import pandas as pd
        for _ in batches:
            pass
        calls, module, version = reads()
        yield pd.DataFrame({"calls": [calls], "module": [module],
                            "version": [list(version)]})

    vecs = spark.range(0, 8, numPartitions=1) \
        .selectExpr("id", "array(cast(id as double), 1.0D) AS v")
    with _fresh_workers(spark):
        fresh = spark.range(0, 1, numPartitions=1).mapInPandas(
            probe, "calls long, module string, version array<int>").first()
        out = score_linear(vecs, "v", [[1.0, 0.0], [0.0, 2.0]]).collect()
        after = spark.range(0, 1, numPartitions=1).mapInPandas(
            probe, "calls long, module string, version array<int>").first()
    assert sorted((r.emb_0, r.emb_1) for r in out) == \
        [(float(i), 2.0) for i in range(8)]
    if GUARDED:  # a worker that never saw caspr_spark re-reads its archives
        assert fresh.calls > 0 and fresh.module == "zipimport", fresh
    assert _guarded(after.calls, after.module, after.version), after


_SHIPPING = {"mapInPandas", "mapInArrow", "applyInPandas",
             "applyInPandasWithState", "applyInArrow", "pandas_udf", "udf"}


def _callee(node):
    f = node.func if isinstance(node, ast.Call) else node
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_every_shipped_function_is_marked():
    """Every function the engine hands to a Python-worker API (a pandas
    UDF, ``mapInPandas``, ``applyInPandas[WithState]`` ...) is decorated
    with ``workers.shipped``; an unmarked closure over numpy or pandas
    only would never import caspr_spark in a worker."""
    shipped, unmarked = 0, []
    for path in sorted(glob.glob(os.path.join(REPO, "caspr_spark", "**",
                                              "*.py"), recursive=True)):
        tree = ast.parse(open(path).read())
        defs = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append(node)
        names, found = set(), []
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and any(
                    _callee(d) in _SHIPPING for d in node.decorator_list):
                found.append(node)
            elif isinstance(node, ast.Call) and _callee(node) in _SHIPPING \
                    and node.args and isinstance(node.args[0], ast.Name):
                names.add(node.args[0].id)
        found += [d for n in names for d in defs.get(n, [])]
        for fn in found:
            shipped += 1
            if not any(_callee(d) == "shipped" for d in fn.decorator_list):
                unmarked.append(f"{os.path.relpath(path, REPO)}:{fn.lineno} "
                                f"{fn.name}")
    assert shipped >= 18
    assert unmarked == []


SCRIPT = textwrap.dedent("""
    import importlib, json, os, sys, zipfile, zipimport
    from caspr_spark import workers

    tmp = sys.argv[1]
    a, b = os.path.join(tmp, "a.zip"), os.path.join(tmp, "b.zip")

    def write(path, **mods):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in mods.items():
                z.writestr(name + ".py", src)

    write(a, m1="X = 1")
    write(b, n1="X = 2")
    sys.path[:0] = [a, b]
    import m1, n1
    workers.install()
    write(a, m1="X = 1", m2="X = 3")
    read, calls = zipimport._read_directory, []

    def counted(archive):
        calls.append(archive)
        return read(archive)
    zipimport._read_directory = counted
    importlib.invalidate_caches()
    import m2
    importlib.invalidate_caches()
    reads = [os.path.basename(p) for p in calls]

    # replaced by a same-size copy that keeps the mtime (cp -p, rsync -t)
    st, new = os.stat(a), a + ".new"
    write(new, m1="X = 1", m2="X = 4")
    os.utime(new, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(new, a)
    assert (os.stat(a).st_size, os.stat(a).st_mtime_ns) == \
        (st.st_size, st.st_mtime_ns)
    del calls[:]
    importlib.invalidate_caches()
    print(json.dumps({
        "m2": m2.X, "reads": reads,
        "replaced": [os.path.basename(p) for p in calls],
        "module": zipimport.zipimporter.invalidate_caches.__module__}))
""")


@pytest.mark.skipif(not GUARDED, reason="the guard is installed on 3.10-3.12")
def test_rewritten_archive_is_reread(tmp_path):
    """In a fresh interpreter with the guard installed: an archive that is
    rewritten after its directory was cached is re-read once, so is one
    replaced by a same-size copy with the same mtime, and an untouched
    one is not read at all."""
    out = subprocess.run([sys.executable, "-c", SCRIPT, str(tmp_path)],
                         cwd=REPO, capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"m2": 3, "reads": ["a.zip"], "replaced": ["a.zip"],
                   "module": "caspr_spark.workers"}


def test_driver_is_not_patched(spark):
    """Importing caspr_spark outside a task installs nothing."""
    from pyspark import TaskContext
    assert TaskContext.get() is None
    assert "caspr_spark" in sys.modules
    assert zipimport.zipimporter.invalidate_caches is workers._reread
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_install_is_noop_from_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        workers._reread)
    monkeypatch.setattr(workers, "sys", types.SimpleNamespace(
        version_info=(3, 13, 0, "final", 0)))
    workers.install()
    assert zipimport.zipimporter.invalidate_caches is workers._reread
