"""Python-worker import setup (tokencodec.spark.worker).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task; the stat-checked zipimporter must make that call read no zip
directory while the archives are unchanged, and still pick up an
archive rewritten in place. The importer tests run in a subprocess so
this process's import machinery is never altered."""

import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stat_checked_zipimporter_semantics(tmp_path):
    arch = tmp_path / "lib.zip"
    with zipfile.ZipFile(arch, "w") as z:
        z.writestr("mod_a.py", "X = 1\n")
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/sub/__init__.py", "")
        z.writestr("pkg/sub/mod_b.py", "Y = 2\n")
    script = textwrap.dedent(f"""
        import importlib, json, os, sys, zipfile, zipimport
        sys.path.insert(0, {str(arch)!r})
        import mod_a, pkg.sub.mod_b  # caches plain zipimporters

        def zips():
            return {{p: f for p, f in sys.path_importer_cache.items()
                     if isinstance(f, zipimport.zipimporter)}}

        out = {{"before": sorted({{type(f).__name__
                                   for f in zips().values()}})}}
        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), orig(p))[1]

        sys.path.insert(0, {REPO!r})
        from tokencodec.spark.worker import StatCheckedZipimporter, install
        install()
        out["n_zips"] = len(zips())
        out["after"] = sorted({{type(f).__name__ for f in zips().values()}})
        out["hooks"] = [h is StatCheckedZipimporter
                        for h in sys.path_hooks
                        if h in (zipimport.zipimporter, StatCheckedZipimporter)]
        out["install_reads"] = len(reads)

        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        out["unchanged_reads"] = len(reads)

        snap = (list(sys.path_hooks), dict(sys.path_importer_cache))
        install()
        out["reinstall_same"] = (
            sys.path_hooks == snap[0]
            and all(sys.path_importer_cache.get(p) is f
                    for p, f in snap[1].items()))
        out["reinstall_reads"] = len(reads)

        # rewrite the archive in place with two more modules, one
        # behind a package-subpath importer that does not re-read
        st = os.stat({str(arch)!r})
        with zipfile.ZipFile({str(arch)!r}, "a") as z:
            z.writestr("mod_c.py", "Z = 3\\n")
            z.writestr("pkg/sub/mod_d.py", "W = 4\\n")
        os.utime({str(arch)!r}, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        out["rewritten_reads"] = len(reads)
        import mod_c, pkg.sub.mod_d
        out["new_mods"] = [mod_c.Z, pkg.sub.mod_d.W]
        del reads[:]
        importlib.invalidate_caches()
        out["settled_reads"] = len(reads)
        print(json.dumps(out))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["before"] == ["zipimporter"]
    assert out["n_zips"] >= 2  # the archive root and a package subpath
    assert out["after"] == ["StatCheckedZipimporter"]
    assert out["hooks"] == [True]
    assert out["install_reads"] == 1  # one archive, read once
    assert out["unchanged_reads"] == 0
    assert out["reinstall_same"] and out["reinstall_reads"] == 0
    # re-read once, shared by every importer of the archive
    assert out["rewritten_reads"] == 1
    assert out["new_mods"] == [3, 4]
    assert out["settled_reads"] == 0


def test_spark_worker_invalidate_reads_no_zip(spark):
    # nested, so it is pickled by value: workers cannot import this file
    def _worker_probe(it):
        import importlib
        import zipimport

        import tokencodec.spark  # noqa: F401 — installs inside a worker
        from tokencodec.spark.worker import StatCheckedZipimporter

        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), orig(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict({
            "n_zips": [len(zips)],
            "all_checked": [all(type(f) is StatCheckedZipimporter
                                 for f in zips)],
            "reads": [len(reads)]})

    from tokencodec.spark import synth
    assert synth.token_table(spark, 64, partitions=8).count() == 64
    rows = (spark.range(0, 8, 1, 8)
            .mapInArrow(_worker_probe,
                        "n_zips long, all_checked boolean, reads long")
            .collect())
    assert len(rows) == 8
    for r in rows:
        assert r.n_zips > 0  # pyspark.zip is on the workers' path
        assert r.all_checked
        assert r.reads == 0


SUBMIT_DRIVER = """
import json, sys
import pyarrow as pa
import tokencodec
from tokencodec.spark import decode_job, encode_job, synth
from tokencodec.spark.session import get_spark


def probe(it):
    import zipimport
    synth.generate_batch  # unpickling this task imports tokencodec.spark
    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    for _ in it:
        pass
    yield pa.RecordBatch.from_pydict({
        "tc_file": [tokencodec.__file__],
        "kinds": [",".join(sorted({type(f).__name__ for f in zips}))]})


spark = get_spark("tokencodec-submit-smoke", cores=2)
df = synth.token_table(spark, 300, seed=7, partitions=2)
encode_job.encode(spark, df, sys.argv[1], commit_groups=2)
res = decode_job.audit(df, decode_job.decode(spark, sys.argv[1]))
rows = spark.range(0, 2, 1, 2).mapInArrow(
    probe, "tc_file string, kinds string").collect()
print("RESULT " + json.dumps({
    "audit": res, "driver_tc_file": tokencodec.__file__,
    "workers": [r.asDict() for r in rows]}))
spark.stop()
"""


def test_spark_submit_py_files_smoke(tmp_path):
    import pyspark
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    submit = os.path.join(home, "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit in SPARK_HOME")
    pkg_zip = shutil.make_archive(str(tmp_path / "tokencodec"), "zip",
                                  REPO, "tokencodec")
    driver = tmp_path / "driver.py"
    driver.write_text(SUBMIT_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    res = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", pkg_zip,
         str(driver), str(tmp_path / "table")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("RESULT ")]
    out = json.loads(line[-1][len("RESULT "):])
    assert out["audit"]["ok"], out["audit"]
    assert ".zip" in out["driver_tc_file"]
    assert len(out["workers"]) == 2
    for w in out["workers"]:
        assert ".zip" in w["tc_file"]  # tokencodec itself came from a zip
        assert w["kinds"] == "StatCheckedZipimporter"
