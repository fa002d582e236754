"""Worker daemon: the archive rule, its effect on a real process, and the
state of workers forked from it under ``get_spark``."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import numpy as np

from rp_extract_spark import session
from rp_extract_spark.worker_daemon import archive_of, dropper

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LIB = "/spark/python/lib"
PYSPARK_ZIP = f"{LIB}/pyspark.zip"
PY4J_ZIP = f"{LIB}/py4j-0.10.9.9-src.zip"
JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
USER_ZIP = "/home/u/deps.zip"
SITE = "/usr/lib/python3.11/site-packages"
PATH = ["/work", PYSPARK_ZIP, PY4J_ZIP, JAR, USER_ZIP, SITE]
KEYS = [
    "/work", PYSPARK_ZIP, f"{PYSPARK_ZIP}/pyspark", f"{PYSPARK_ZIP}/pyspark/sql",
    PY4J_ZIP, f"{PY4J_ZIP}/py4j", JAR, f"{JAR}/org", USER_ZIP, f"{USER_ZIP}/pkg",
    SITE,
]


def test_archive_of_finds_the_archive_component():
    assert archive_of(f"{PYSPARK_ZIP}/pyspark/sql") == PYSPARK_ZIP
    assert archive_of(f"{JAR}/org") == JAR
    assert archive_of("/work") is None


def _apply(rule, path, keys):
    """(kept path entries, importer-cache keys to purge) under ``rule``."""
    return [e for e in path if not rule(e)], [k for k in keys if rule(k)]


def test_rule_drops_spark_archives_when_installed_copies_import():
    kept, purge = _apply(dropper([LIB], installed_ok=True), PATH, KEYS)
    assert kept == ["/work", USER_ZIP, SITE]
    assert purge == [
        PYSPARK_ZIP, f"{PYSPARK_ZIP}/pyspark", f"{PYSPARK_ZIP}/pyspark/sql",
        PY4J_ZIP, f"{PY4J_ZIP}/py4j", JAR, f"{JAR}/org",
    ]


def test_rule_keeps_spark_zips_when_installed_copies_do_not_import():
    kept, purge = _apply(dropper([LIB], installed_ok=False), PATH, KEYS)
    assert kept == ["/work", PYSPARK_ZIP, PY4J_ZIP, USER_ZIP, SITE]
    assert purge == [JAR, f"{JAR}/org"]


def test_rule_only_drops_zips_under_spark_lib():
    own = ["/srv/app/pyspark.zip", "/srv/app/py4j-0.10.9.9-src.zip"]
    drop = dropper([LIB], installed_ok=True)
    assert not any(drop(e) for e in own)
    # symlinked and resolved forms of $SPARK_HOME/python/lib both count
    drop = dropper([LIB, "/srv/spark-4.1.2/python/lib"], installed_ok=True)
    assert drop("/srv/spark-4.1.2/python/lib/pyspark.zip")


def test_clean_import_state_in_a_process(tmp_path):
    """A fresh interpreter with a fake Spark home: the jar's ``org``
    namespace package is imported first, as the stdlib's Jython probe
    does; afterwards no importer, path entry or module refers to the
    jar or to Spark's zips, and the user's zip is untouched."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    jar = tmp_path / "core.jar"
    user = tmp_path / "user.zip"
    for z, names in ((lib / "pyspark.zip", ["pyspark/__init__.py"]),
                     (lib / "py4j-0.10.9.9-src.zip", ["py4j/__init__.py"]),
                     (jar, ["org/", "org/apache/Foo.class"]),
                     (user, ["userpkg/__init__.py"])):
        with zipfile.ZipFile(z, "w") as f:
            for n in names:
                f.writestr(n, "")
    script = textwrap.dedent(f"""
        import importlib.util, sys, zipimport
        sys.path[1:1] = [{str(lib / 'pyspark.zip')!r},
                         {str(lib / 'py4j-0.10.9.9-src.zip')!r},
                         {str(jar)!r}, {str(user)!r}]
        import org, userpkg
        from rp_extract_spark.worker_daemon import clean_import_state
        clean_import_state()
        zips = sorted(k for k, v in sys.path_importer_cache.items()
                      if isinstance(v, zipimport.zipimporter))
        print(zips == [{str(user)!r}], 'org' in sys.modules,
              'userpkg' in sys.modules, {str(jar)!r} in sys.path)
        origin = importlib.util.find_spec("pyspark").origin
        print(origin.startswith({str(lib)!r}))
    """)
    env = {**os.environ, "SPARK_HOME": str(tmp_path / "spark")}
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True).stdout
    assert out.split() == ["True", "False", "True", "False", "False"]


def test_session_conf_puts_the_package_on_the_worker_path():
    conf = session._with_daemon({})
    assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    conf = session._with_daemon({"spark.executorEnv.PYTHONPATH": "/deps",
                                 "spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([REPO, "/deps"])
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_daemon_starts_where_the_package_is_not_on_the_default_path(tmp_path):
    """A driver that runs outside the repository, with no ``PYTHONPATH``
    and ``PYTHONSAFEPATH`` set, so neither the JVM's working directory nor
    the environment lets a worker import the package: Python stages still
    run, forked from the package's daemon."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from rp_extract_spark.session import get_spark

        def probe(_):
            import sys, zipimport
            import rp_extract_spark
            yield (rp_extract_spark.__file__, sorted(
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)))

        spark = get_spark("daemon-cwd", cores=1, shuffle_partitions=1,
                          extra={{"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"}})
        try:
            out = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
            print(json.dumps([spark.conf.get("spark.python.daemon.module"), *out[0]]))
        finally:
            spark.stop()
    """)
    env = {**os.environ, "PYTHONSAFEPATH": "1"}
    env.pop("PYTHONPATH", None)
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    daemon, pkg_file, zip_keys = json.loads(proc.stdout.strip().splitlines()[-1])
    assert daemon == session.DAEMON_MODULE
    assert pkg_file.startswith(REPO + os.sep)
    assert not any(archive_of(k).lower().endswith(".jar") for k in zip_keys)


def _worker_import_state(_):
    import sys
    import zipimport

    import pyspark

    yield ([k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)], pyspark.__file__)


def test_workers_hold_no_spark_archive_importers(spark):
    assert spark.conf.get("spark.python.daemon.module") == session.DAEMON_MODULE
    keys, pyspark_file = (spark.sparkContext.parallelize([0], 1)
                             .mapPartitions(_worker_import_state).collect()[0])
    spark_lib = os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"),
                             "python", "lib")
    spark_libs = {os.path.normpath(spark_lib), os.path.realpath(spark_lib)}
    archives = {archive_of(k) for k in keys}
    assert not any(a.lower().endswith(".jar") for a in archives)
    assert not any(os.path.dirname(a) in spark_libs for a in archives)
    assert not any(os.path.dirname(pyspark_file).startswith(lib)
                   for lib in spark_libs)


def test_map_in_pandas_runs_package_code_under_the_daemon(spark):
    import pandas as pd

    from rp_extract_spark.codecs import encode_png

    rng = np.random.default_rng(0)
    imgs = [rng.integers(0, 256, (8 + i, 5), dtype=np.uint8) for i in range(3)]
    df = spark.createDataFrame(
        [(i, bytearray(encode_png(a))) for i, a in enumerate(imgs)],
        "id int, data binary")

    def shapes(batches):
        from rp_extract_spark.codecs import decode_image

        for b in batches:
            px = [decode_image(bytes(d), "png") for d in b["data"]]
            yield pd.DataFrame({"id": b["id"], "h": [p.shape[0] for p in px],
                                "total": [int(p.sum()) for p in px]})

    got = sorted(df.mapInPandas(shapes, "id int, h int, total long").collect())
    assert [(r.id, r.h, r.total) for r in got] == [
        (i, a.shape[0], int(a.sum())) for i, a in enumerate(imgs)]
