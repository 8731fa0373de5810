"""Structural guards over the package source: checks that read the
code (AST, registry) rather than run queries, so a regression in the
engine's shape fails fast and names the offending site."""

import ast
import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "svdmovie_lens_parallel_apache_spark_spark")

# _commit is the one retry loop; create_branch makes a single claim that
# must not retry, and _ledger_append claims ledger entries, which are
# not snapshots
CLAIM_CALLERS = {"_commit", "create_branch", "_ledger_append"}


def _call_sites(*names):
    """(file, enclosing top-level function, line) of every call to one
    of ``names`` in the package, however it is spelled (``f(...)`` or
    ``obj.f(...)``)."""
    sites = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for top in tree.body:
                owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if not isinstance(node, ast.Call):
                        continue
                    fn = node.func
                    name = (
                        fn.id if isinstance(fn, ast.Name)
                        else fn.attr if isinstance(fn, ast.Attribute)
                        else None
                    )
                    if name in names:
                        sites.append(
                            (os.path.relpath(path, PKG), owner, node.lineno)
                        )
    return sites


def test_claim_snapshot_called_only_from_commit():
    """Every snapshot writer commits through ``_commit``; a copied
    ``while True`` claim loop anywhere else fails here."""
    sites = _call_sites("_claim_snapshot")
    stray = [s for s in sites if s[1] not in CLAIM_CALLERS]
    assert stray == [], f"_claim_snapshot called outside _commit: {stray}"
    assert {owner for _f, owner, _l in sites} == CLAIM_CALLERS
    assert {f for f, _o, _l in sites} == {
        os.path.join("sources", "snapshot_table.py")
    }


def test_arrow_writers_share_one_stager_and_commit():
    """The stream sink and the batch writer are adapters over one
    executor-side stager and one driver-side commit: a parquet write,
    a footer min/max or a constraint validation anywhere else (a copied
    staging body) fails here, and so does either writer calling
    ``_commit`` itself."""
    st = os.path.join("sources", "snapshot_table.py")
    assert {
        (f, owner) for f, owner, _l in _call_sites("write_table", "min_max")
    } == {(st, "_stage_arrow")}
    assert {
        (f, owner) for f, owner, _l in _call_sites("_validate_paths")
    } == {(st, "_commit_staged")}
    writers = {
        os.path.join("sources", "snapshot_sink.py"),
        os.path.join("sources", "snapshot_datasource.py"),
    }
    assert [s for s in _call_sites("_commit") if s[0] in writers] == []


def test_stream_waits_go_through_drain():
    """Every stream the package starts is waited on by
    ``streaming.jobs.drain``, the one wait with a stall limit; a bare
    ``awaitTermination()``/``processAllAvailable()`` anywhere else could
    hang a query forever and fails here."""
    sites = _call_sites("awaitTermination", "processAllAvailable")
    assert {(f, owner) for f, owner, _l in sites} == {
        (os.path.join("streaming", "jobs.py"), "drain")
    }, sites


def test_stream_sources_share_one_reader():
    """``snapshot_changes`` and ``snapshot_cdc`` are two formats over ONE
    stream reader: a second ``latestOffset``/``partitions``/``commit``/
    ``initialOffset`` in ``snapshot_stream.py`` (a copied reader) fails
    here, and so does start resolution or the retention contract called
    from anywhere but that shared reader and the module's helpers."""
    rel = os.path.join("sources", "snapshot_stream.py")
    path = os.path.join(PKG, rel)
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    defs = [n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    for name in ("latestOffset", "partitions", "commit", "initialOffset"):
        assert defs.count(name) == 1, f"{name} defined {defs.count(name)}x"
    helpers = ("_retention_check", "_resolve_start", "_plannable_floor")
    sites = {(f, owner) for f, owner, _l in _call_sites(*helpers)}
    assert (rel, "_reader_base") in sites
    assert sites <= {(rel, "_reader_base")} | {(rel, h) for h in helpers}, (
        sites
    )


def test_scratch_has_one_owner():
    """Every scratch dir the package makes comes from
    ``session.scratch_dir``, under the one per-process root that goes
    when the process exits: a ``tempfile.mkdtemp``/``mktemp`` anywhere
    else in the package (a dir nothing removes) fails here, and so does
    a harness pointing ``tempfile.tempdir`` somewhere for the whole
    process instead of cleaning up after itself."""
    sites = _call_sites("mkdtemp", "mktemp")
    assert {(f, owner) for f, owner, _l in sites} == {
        ("session.py", "_root"), ("session.py", "scratch_dir")
    }, sites
    paths = (
        glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "tools", "*.py"))
        + [os.path.join(REPO, "bench.py")]
    )
    stray = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, (ast.AugAssign, ast.AnnAssign))
                else []
            )
            stray += [
                (os.path.relpath(path, REPO), node.lineno)
                for t in targets
                if isinstance(t, ast.Attribute) and t.attr == "tempdir"
            ]
    assert stray == [], f"tempfile.tempdir assigned: {stray}"


def test_scratch_root_goes_with_its_process(tmp_path):
    """A child process's scratch dirs share one root under its temp dir,
    a forked grandchild exiting does not take that root with it, and
    the root is gone once the child itself exits."""
    child = (
        "import os, sys\n"
        "from svdmovie_lens_parallel_apache_spark_spark.session import scratch_dir\n"
        "a, b = scratch_dir('a'), scratch_dir('b')\n"
        "assert a != b and os.path.dirname(a) == os.path.dirname(b)\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "assert os.path.isdir(a), 'a forked child removed the root'\n"
        "print(os.path.dirname(a))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=REPO,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("svdml-")
    assert os.listdir(tmp_path) == []


def test_catalog_registry_size_is_pinned():
    """Every catalog module is imported unconditionally, so a broken
    import fails loudly; these counts catch a module whose queries
    silently stop registering."""
    import __spark_entry__ as m

    assert len(m.queries()) == 224
    assert len(m.oracle_sql()) == 223
