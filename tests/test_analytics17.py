"""analytics17 mechanics: jsonl-sink manifest protocol (file
accounting, abandoned files ignored) and streaming-vs-batch count-min
sketch equality."""

import json
import os
import shutil

from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table, scratch_dir

SF = "/root/testdata/sf0.001"


def _registry():
    return load_all()


def test_jsonlsink_manifest_protocol(spark, tmp_path):
    """The manifest lists exactly the committed files with the exact
    row total, and an extra (abandoned-attempt) file in the directory
    is ignored by a manifest-driven read."""
    from sparkml_som_spark.sources.pydatasource import ensure_sink_registered

    ensure_sink_registered(spark)
    path = str(tmp_path / "sink")
    df = spark.range(100).selectExpr("id", "cast(id % 3 as string) g")
    df.repartition(3).write.format("jsonlsink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["n_rows"] == 100
    assert all(os.path.isfile(p) for p in manifest["files"])
    # plant an abandoned-attempt file: the manifest-driven read-back
    # must not see its rows
    rogue = os.path.join(path, "part-rogue.jsonl")
    with open(rogue, "w") as f:
        f.write(json.dumps({"id": 99999, "g": "x"}) + "\n")
    back = spark.read.schema("id bigint, g string").json(manifest["files"])
    assert back.count() == 100
    assert back.where("id = 99999").count() == 0


def test_stream_countmin_equals_batch_sketch(spark):
    """The streamed-and-merged sketch must produce the same estimates
    as the batch count-min entry (integer merges are order-free), on
    every call: each call starts from an empty driver-held sketch and
    leaves no state dir behind."""
    reg = _registry()
    cells_dir = scratch_dir(SF, "cms_cells")
    # a dir an older engine left must not decide the check below
    shutil.rmtree(cells_dir, ignore_errors=True)
    first = reg["stream_countmin_merge"].fn(spark, SF).collect()
    second = reg["stream_countmin_merge"].fn(spark, SF).collect()
    assert sorted(first) == sorted(second)
    assert not os.path.exists(cells_dir)
    stream_rows = {r["tok"]: (r["exact_cnt"], r["est_cnt"]) for r in second}
    batch_rows = {
        r["tok"]: (r["exact_cnt"], r["est_cnt"])
        for r in reg["countmin_heavy_hitters"].fn(spark, SF).collect()
    }
    assert stream_rows == batch_rows
    assert all(est >= exact for exact, est in stream_rows.values())
