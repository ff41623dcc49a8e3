"""Session bootstrap: ``configure_session`` runs on every table load,
sets the engine's confs each time, and ships the package zip to a
SparkContext only once."""

import os
import zipfile

from rados_timestore_spark.queries_common import load
from tests.conftest import SF_DIR

LISTING_CAP = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def test_load_ships_the_package_once_per_context(spark, monkeypatch):
    sc = spark.sparkContext
    # get_spark shipped the zip; Spark's record of it is what a later
    # load checks
    assert any(f.rsplit("/", 1)[-1] == "rados_timestore_spark_pkg.zip"
               for f in sc.listFiles), sc.listFiles
    zips, adds = [], []
    real_zip, real_add = zipfile.ZipFile, sc.addPyFile

    def counting_zip(path, *a, **k):
        zips.append(path)
        return real_zip(path, *a, **k)

    def counting_add(path):
        adds.append(path)
        return real_add(path)

    monkeypatch.setattr(zipfile, "ZipFile", counting_zip)
    monkeypatch.setattr(sc, "addPyFile", counting_add)
    # the context's added files, as if it had got only what this test
    # adds: a fresh context
    monkeypatch.setattr(type(sc), "listFiles",
                        property(lambda self: [
                            f"spark://h/files/{os.path.basename(p)}"
                            for p in adds]))
    load(spark, SF_DIR, "events")
    spark.conf.unset(LISTING_CAP)
    assert load(spark, SF_DIR, "events").count() > 0
    assert len(zips) == 1 and len(adds) == 1, (zips, adds)
    # the conf sets still run on every load
    assert spark.conf.get(LISTING_CAP) == str(sc.defaultParallelism)
