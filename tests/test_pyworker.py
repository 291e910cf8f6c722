"""Python worker daemon (cdp_spark.pyworker): a worker's
importlib.invalidate_caches() re-reads a zip directory only when the
archive changed.  Each test runs in its own interpreter so this test
process's zipimport stays unpatched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, cwd: str, env: dict | None = None) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_SESSION = f"""
    import json, sys
    sys.path.insert(0, {REPO!r})
    from cdp_spark.session import get_spark

    spark = get_spark("pyworker_test", shuffle_partitions=2)
"""


def test_worker_invalidate_caches_rereads_no_zip(tmp_path):
    out = _run(
        _SESSION
        + """
    def task(batches):
        import importlib, zipimport
        import pandas as pd

        reads = [0]
        read_directory = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [reads[0]]})

    rows = spark.range(0, 2, 1, 2).mapInPandas(task, "reads long").collect()
    spark.stop()
    print(json.dumps([r.reads for r in rows]))
    """,
        cwd=str(tmp_path),
    )
    assert out == [0, 0]


def test_changed_archive_is_still_reread(tmp_path):
    out = _run(
        f"""
    import importlib, json, sys, zipfile, zipimport
    sys.path.insert(0, {REPO!r})
    from cdp_spark.pyworker import patch_zipimport

    patch_zipimport()
    archive = {str(tmp_path / "mods.zip")!r}

    def write(names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(name + ".py", "VALUE = %r\\n" % name)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting

    def invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return reads.count(archive)

    write(["m1"])
    sys.path.insert(0, archive)
    import m1

    first = invalidate()      # no stamp yet: read and stamp
    unchanged = invalidate()  # same (mtime, size): shared directory
    write(["m1", "m2"])
    changed = invalidate()    # archive rewritten: read again
    import m2

    print(json.dumps([first, unchanged, changed, m1.VALUE, m2.VALUE]))
    """,
        cwd=str(tmp_path),
    )
    assert out == [1, 0, 1, "m1", "m2"]


def test_get_spark_workers_find_the_daemon_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = _run(
        _SESSION
        + """
    def task(batches):
        for pdf in batches:
            yield pdf * 2

    rows = spark.range(0, 4, 1, 2).mapInPandas(task, "id long").collect()
    spark.stop()
    print(json.dumps(sorted(r.id for r in rows)))
    """,
        cwd=str(tmp_path),
        env=env,
    )
    assert out == [0, 2, 4, 6]
