"""Scale-path behavior tests: IVF partition pruning on disk,
streaming checkpoint recovery (exactly-once restart)."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from financial_data_stream_processing_engine_spark.io_utils import load_table
from financial_data_stream_processing_engine_spark.operators import similarity
from financial_data_stream_processing_engine_spark.streaming import stateful


def test_ivf_cells_prune_partitions_on_disk(spark, sf_dir, tmp_path):
    """Writing the corpus partitioned by IVF cell turns cell selection
    into physical partition pruning — the scan must read only the
    probed cells' files."""
    embs = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.train_centroids(embs, by="label")
    with_cells = similarity.assign_cells(embs, centroids)

    out = str(tmp_path / "corpus_by_cell")
    with_cells.write.mode("overwrite").partitionBy("cell").parquet(out)
    stored = spark.read.parquet(out)

    probed = stored.filter(F.col("cell").isin(3, 7))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # partition filters (not data filters) must carry the cell predicate
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]

    # and the pruned read returns exactly the cells' rows
    expected = with_cells.filter(F.col("cell").isin(3, 7)).count()
    assert probed.count() == expected > 0


def test_streaming_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Stop a checkpointed stateful query mid-stream, add more data,
    restart with the same checkpoint: every input row appears exactly
    once downstream and window state carries across the restart."""
    import datetime as dt

    schema = "id string, symbol string, price double, volume long, ts timestamp, source string"
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    base = dt.datetime(2024, 5, 1)

    def write_batch(offset: int, count: int, path_suffix: str):
        rows = [
            (f"t{offset + i:04d}", "A", float(100 + offset + i), 1,
             base + dt.timedelta(seconds=offset + i), "s")
            for i in range(count)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")

    def run_query() -> None:
        # file sink + checkpoint = the real exactly-once recovery path
        # (the memory sink refuses checkpoint recovery by design)
        stream = spark.readStream.schema(schema).parquet(src)
        ma = stateful.streaming_moving_average(stream, n=3)
        q = (
            ma.writeStream.format("parquet").outputMode("append")
            .option("path", out).option("checkpointLocation", chk).start()
        )
        q.processAllAvailable()
        q.stop()

    write_batch(0, 6, "a")
    run_query()
    first = {r.id: r.moving_average for r in spark.read.parquet(out).collect()}
    assert len(first) == 6

    # more data arrives while the query is down
    write_batch(6, 4, "b")
    run_query()
    final = {r.id: r.moving_average for r in spark.read.parquet(out).collect()}

    # exactly-once across the restart: all 10 rows, no replays/dupes
    assert set(final) == {f"t{i:04d}" for i in range(10)}
    assert len(spark.read.parquet(out).collect()) == 10
    # and the ring buffer carried across the restart: t0006's window is
    # (t0004, t0005, t0006) — prices 104,105,106
    assert final["t0006"] == (104 + 105 + 106) / 3


def test_merge_upsert_replaces_and_inserts(spark):
    from financial_data_stream_processing_engine_spark.operators.scale import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    changes = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(base, changes, ["k"]).collect()}
    # matched row fully replaced, unmatched inserted, others untouched
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_table_diff_classifies_iud(spark):
    from financial_data_stream_processing_engine_spark.operators.scale import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged → absent from diff
         (2, "b", 25.0),        # value update
         (4, "x", 40.0),        # null→value update (null-safe compare)
         (5, "e", 50.0)],       # insert
        "k long, s string, v double",
    )
    out = {r.k: r for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert set(out) == {2, 3, 4, 5}
    assert out[2].change_type == "U" and out[2].new_val.v == 25.0
    assert out[3].change_type == "D" and out[3].new_val is None
    assert out[4].change_type == "U"  # NULL <=> 'x' differs null-safely
    assert out[5].change_type == "I" and out[5].old_val is None


def test_morton_z16_properties(spark):
    from financial_data_stream_processing_engine_spark.operators.scale import morton_z16
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (65535, 65535), (21845, 0), (0, 21845)],
        "a long, b long",
    )
    rows = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", morton_z16(F.col("a"), F.col("b")).alias("z")).collect()
    }

    def py_morton(a, b):
        z = 0
        for i in range(16):
            z += ((a >> i) & 1) << (2 * i)
            z += ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in rows.items():
        assert z == py_morton(a, b)
    assert rows[(1, 0)] == 1 and rows[(0, 1)] == 2
    assert rows[(65535, 65535)] == (1 << 32) - 1
    # a occupies even bits only, b odd bits only
    assert rows[(21845, 0)] & 0xAAAAAAAA == 0
    assert rows[(0, 21845)] & 0x55555555 == 0


def test_ivm_matches_full_recompute_with_group_moves(spark):
    from pyspark.sql import functions as F
    from financial_data_stream_processing_engine_spark.operators.scale import (
        cdc_apply_to_sum_count,
        table_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k long, g string, v double",
    )
    # 1: moves group a→b, 2: deleted, 4: value update, 5: insert into c
    new = spark.createDataFrame(
        [(1, "b", 10.0), (3, "b", 30.0), (4, "b", 45.0), (5, "c", 50.0)],
        "k long, g string, v double",
    )
    diff = table_diff(old, new, ["k"], ["g", "v"])
    old_agg = old.groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(27,7)")).alias("_dec_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    maintained = {
        r["g"]: (float(r["_dec_sum"]), r["n"])
        for r in cdc_apply_to_sum_count(old_agg, diff, "g", "v", "g").collect()
    }
    full = {
        r["g"]: (float(r["s"]), r["n"])
        for r in new.groupBy("g")
        .agg(F.sum(F.col("v").cast("decimal(27,7)")).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert maintained == full  # group 'a' vanished (n=0 dropped), b=3 rows, c=1


def test_ivm_null_group_key_maintains_consistently(spark):
    """A NULL group key must match ITS OWN state row (null-safe join):
    a plain equi full-outer would pair the NULL-group delta with
    nothing, emitting a duplicate NULL row and tripping the
    negative-count assert on a perfectly consistent feed."""
    from pyspark.sql import functions as F
    from financial_data_stream_processing_engine_spark.operators.scale import (
        cdc_apply_to_sum_count,
        table_diff,
    )

    old = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)],
        "k long, g string, v double",
    )
    # delete one NULL-group row, update the other's value
    new = spark.createDataFrame(
        [(2, None, 25.0), (3, "b", 30.0)], "k long, g string, v double"
    )
    diff = table_diff(old, new, ["k"], ["g", "v"])
    old_agg = old.groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(27,7)")).alias("_dec_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    maintained = {
        r["g"]: (float(r["_dec_sum"]), r["n"])
        for r in cdc_apply_to_sum_count(old_agg, diff, "g", "v", "g").collect()
    }
    assert maintained == {None: (25.0, 1), "b": (30.0, 1)}


def test_salted_agg_count_column_vs_star_and_null_groups(spark):
    """count with column=None is COUNT(*); a named column is
    COUNT(col) (NULLs excluded) — and both phases stay correct with a
    NULL aggregation value and a content-derived salt."""
    from financial_data_stream_processing_engine_spark.operators.scale import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)],
        "g string, v double",
    )
    out = {
        r["g"]: (r["n_star"], r["n_v"])
        for r in salted_agg(
            df, key="g", aggs=[("count", None, "n_star"), ("count", "v", "n_v")],
            salt=4,
        ).collect()
    }
    assert out == {"a": (3, 2), "b": (1, 0)}


def test_ivm_negative_count_fails_loudly(spark):
    """A change feed inconsistent with the state (a delete for a row
    the aggregate never counted) must FAIL the job, not silently drop
    the group (the n>0 filter would have eaten the corruption)."""
    from pyspark.sql import functions as F
    from pyspark.errors import PySparkException
    from financial_data_stream_processing_engine_spark.operators.scale import (
        cdc_apply_to_sum_count,
        table_diff,
    )

    old = spark.createDataFrame([(1, "a", 10.0)], "k long, g string, v double")
    new = spark.createDataFrame([], "k long, g string, v double")
    diff = table_diff(old, new, ["k"], ["g", "v"])  # one delete of (1, a)
    # state claims group 'a' was EMPTY — applying the delete drives its
    # maintained count to -1
    empty_state = spark.createDataFrame(
        [], "g string, _dec_sum decimal(27,7), n long"
    )
    with pytest.raises(PySparkException, match="negative maintained count"):
        cdc_apply_to_sum_count(empty_state, diff, "g", "v", "g").collect()


def test_jsonl_sink_strict_json_and_success_marker(spark, tmp_path):
    """The custom jsonl_dir writer emits STRICT JSON (non-finite
    doubles → null, never bare NaN/Infinity tokens) and publishes a
    _SUCCESS marker only after every shard is renamed into place —
    the contract readers key on."""
    import json
    import os

    from financial_data_stream_processing_engine_spark.sources.tick_datasource import (
        register_sink,
    )

    register_sink(spark)
    df = spark.createDataFrame(
        [(1, 1.5), (2, float("nan")), (3, float("inf")), (4, float("-inf"))],
        "id long, x double",
    )
    d = str(tmp_path / "out")
    df.coalesce(1).write.format("jsonl_dir").option("path", d).mode("append").save()

    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    shards = [f for f in os.listdir(d) if f.endswith(".jsonl")]
    assert shards and not [f for f in os.listdir(d) if f.endswith(".tmp")]
    rows = {}
    for shard in shards:
        with open(os.path.join(d, shard), encoding="utf-8") as f:
            for line in f:
                # strict parse: reject NaN/Infinity tokens outright
                rec = json.loads(line, parse_constant=lambda t: pytest.fail(t))
                rows[rec["id"]] = rec["x"]
    assert rows == {1: 1.5, 2: None, 3: None, 4: None}
