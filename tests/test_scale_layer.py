from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdr_analysis_tools_hadoop_spark.operators import prepare, salting
from cdr_analysis_tools_hadoop_spark.plans import checkpoint
from cdr_analysis_tools_hadoop_spark.sources import synthetic
from cdr_analysis_tools_hadoop_spark.streaming import zone_stream


@pytest.fixture(scope="module")
def cdr(spark, sf_dir):
    return prepare.events_as_cdr(spark, sf_dir)


# ---------------------------------------------------------------------------
# checkpoint manifest


def _records(*parts):
    return [checkpoint.make_commit_record(p, 10, 1.0, "lin", "app") for p in parts]


def test_manifest_torn_final_line_is_skipped_and_cut(tmp_path):
    """A kill inside append_manifest leaves a torn last line: reading
    skips it with a warning, and the next append cuts it off instead of
    gluing onto it."""
    out = str(tmp_path / "m")
    checkpoint.append_manifest(out, _records("a", "b"))
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    whole = json.dumps(_records("c")[0]) + "\n"
    for torn in (whole[:17], whole[:-1]):  # cut mid-record; cut before "\n"
        with open(mp, "a") as f:
            f.write(torn)
        with pytest.warns(UserWarning, match="torn final line"):
            assert checkpoint.committed_partitions(out) == {"a", "b"}
        checkpoint.append_manifest(out, _records("d"))
        assert [m["partition"] for m in checkpoint.read_manifest(out)] == ["a", "b", "d"]
        open(mp, "w").write("".join(json.dumps(r) + "\n" for r in _records("a", "b")))


def test_manifest_corrupt_middle_line_raises(tmp_path):
    out = str(tmp_path / "m")
    checkpoint.append_manifest(out, _records("a"))
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    with open(mp, "a") as f:
        f.write('{"partition": "b", "sta\n')
    checkpoint.append_manifest(out, _records("c"))
    with pytest.raises(ValueError, match="corrupt manifest line 2"):
        checkpoint.read_manifest(out)


def test_checkpoint_write_then_resume_skips(cdr, tmp_path):
    out = str(tmp_path / "fact")
    df = cdr.withColumn("pdt", F.to_date("call_time").cast("string"))
    s1 = checkpoint.write_partitioned(df, out, "pdt")
    assert s1["written"] > 0 and s1["skipped"] == 0
    total = sum(m["rows"] for m in checkpoint.read_manifest(out))
    assert total == df.count()

    s2 = checkpoint.write_partitioned(df, out, "pdt")
    assert s2["written"] == 0 and s2["skipped"] == s1["written"]


def test_checkpoint_resumes_only_missing(cdr, tmp_path, spark):
    out = str(tmp_path / "fact2")
    df = cdr.withColumn("pdt", F.to_date("call_time").cast("string"))
    checkpoint.write_partitioned(df, out, "pdt")
    # simulate a kill: drop the last manifest line and its partition dir
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    lines = open(mp).read().strip().split("\n")
    victim = json.loads(lines[-1])["partition"]
    open(mp, "w").write("\n".join(lines[:-1]) + "\n")
    s = checkpoint.write_partitioned(df, out, "pdt")
    assert s["written"] == 1 and s["partitions"] == [victim]
    # all partitions readable, full row count intact
    assert spark.read.parquet(out).count() == df.count()


def test_checkpoint_lineage_guard(cdr, tmp_path):
    out = str(tmp_path / "fact3")
    df = cdr.withColumn("pdt", F.to_date("call_time").cast("string"))
    checkpoint.write_partitioned(df, out, "pdt")
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    lines = open(mp).read().strip().split("\n")
    doctored = [
        json.dumps({**json.loads(ln), "lineage": "deadbeef"}) for ln in lines
    ]
    # drop one partition so a resume would actually write
    victim = json.loads(lines[-1])["partition"]
    open(mp, "w").write("\n".join(doctored[:-1]) + "\n")
    with pytest.raises(ValueError, match="lineage"):
        checkpoint.write_partitioned(df, out, "pdt")
    s = checkpoint.write_partitioned(df, out, "pdt", allow_lineage_change=True)
    assert s["written"] == 1 and s["partitions"] == [victim]


def test_checkpoint_write_runs_input_once(spark, tmp_path):
    """Each call runs the input plan once: the uncommitted partitions
    are written from one filtered pass and read back from the output,
    with no separate pass to list the input's partitions. NULL
    partition values commit and resume like any other."""
    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    base = spark.range(0, 600, numPartitions=3).select(
        "id",
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.col("id") % 5)
        .alias("p"),
    )
    df = base.mapInArrow(counted, base.schema)
    out = str(tmp_path / "once")
    null_part = "__HIVE_DEFAULT_PARTITION__"

    s1 = checkpoint.write_partitioned(df, out, "p")
    assert acc.value == 600
    assert s1["written"] == 6 and s1["skipped"] == 0 and s1["rows"] == 600
    assert s1["partitions"] == sorted(["0", "1", "2", "3", "4", null_part])

    # drop the NULL partition's and one other record: only they rerun
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    lines = open(mp).read().strip().split("\n")
    keep = [ln for ln in lines if json.loads(ln)["partition"] not in ("3", null_part)]
    open(mp, "w").write("\n".join(keep) + "\n")
    acc.value = 0
    s2 = checkpoint.write_partitioned(df, out, "p")
    assert acc.value == 600
    assert s2["partitions"] == ["3", null_part] and s2["skipped"] == 4
    assert s2["rows"] == 600 // 7 + 1 + sum(1 for i in range(600) if i % 7 and i % 5 == 3)

    acc.value = 0
    s3 = checkpoint.write_partitioned(df, out, "p")
    assert acc.value == 600
    assert (s3["written"], s3["skipped"], s3["rows"]) == (0, 6, 0)
    assert len(checkpoint.read_manifest(out)) == 6
    assert spark.read.parquet(out).count() == 600


def test_checkpoint_partition_values_keep_their_type(spark, tmp_path):
    """Written partitions are read back with the input's types, so a
    string value that looks like a number ("007") keeps its name, and
    an empty input commits nothing without failing the read-back."""
    df = spark.createDataFrame(
        [("007", 1), ("007", 2), ("010", 3)], "p string, v int"
    )
    out = str(tmp_path / "typed")
    s = checkpoint.write_partitioned(df, out, "p")
    assert s["partitions"] == ["007", "010"] and s["rows"] == 3
    rows = {m["partition"]: m["rows"] for m in checkpoint.read_manifest(out)}
    assert rows == {"007": 2, "010": 1}

    empty = spark.createDataFrame([], "p string, v int")
    s = checkpoint.write_partitioned(empty, str(tmp_path / "empty"), "p")
    assert (s["written"], s["skipped"], s["rows"]) == (0, 0, 0)


def test_resumable_pipeline_kill_and_resume(spark, tmp_path):
    """North-rule resume clause, input side: a run killed between
    chunk commits resumes without recomputing completed chunks, and
    the re-aggregated partials equal the single-shot pipeline."""
    from cdr_analysis_tools_hadoop_spark import pipeline

    img_path = str(tmp_path / "imgs")
    synthetic.images_df(spark, 400, partitions=8).write.parquet(img_path)
    out = str(tmp_path / "rollup")

    # "kill" after 2 of 4 chunk commits (max_chunks bounds the run)
    s1 = pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4, max_chunks=2)
    assert s1["written"] == 2 and s1["skipped"] == 0
    m1 = {m["partition"]: m for m in checkpoint.read_manifest(out)}
    assert len(m1) == 2

    # resume: only the 2 missing chunks run; committed rows untouched
    s2 = pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4)
    assert s2["written"] == 2 and s2["skipped"] == 2
    m2 = checkpoint.read_manifest(out)
    assert {m["partition"] for m in m2} == {f"chunk={i}" for i in range(4)}
    for m in m2:
        if m["partition"] in m1:
            assert m == m1[m["partition"]]  # not recomputed or rewritten
    assert s1["images"] + s2["images"] == 400

    got = sorted(map(tuple, pipeline.resumable_result(spark, out).collect()))
    want = sorted(
        map(
            tuple,
            pipeline.run_pipeline(spark, spark.read.parquet(img_path)).collect(),
        )
    )
    assert got == want

    # idempotent: nothing left to do
    s3 = pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4)
    assert s3["written"] == 0 and s3["skipped"] == 4

    # layout guard: a different chunk count misassigns files vs the
    # committed chunks — refuse (count check fires before lineage, so
    # the message names the actual cause, not "input files changed")
    with pytest.raises(ValueError, match="different chunk count"):
        pipeline.run_pipeline_resumable(spark, img_path, out, chunks=3)

    # same-count but different FILE LIST is the lineage refusal: drop
    # one committed row and point the same layout at different files
    # by re-chunking within range — simulate with a doctored manifest
    mp = os.path.join(out, checkpoint.MANIFEST_NAME)
    lines = open(mp).read().strip().split("\n")
    doctored = [
        json.dumps({**json.loads(ln), "lineage": "deadbeef"}) for ln in lines
    ]
    open(mp, "w").write("\n".join(doctored) + "\n")
    with pytest.raises(ValueError, match="different input files"):
        pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4)
    open(mp, "w").write("\n".join(lines) + "\n")  # restore

    # foreign manifest: an out_path committed by the OUTPUT-side
    # write_partitioned path refuses cleanly, not with an IndexError
    out2 = str(tmp_path / "rollup2")
    rollup = pipeline.run_pipeline(spark, spark.read.parquet(img_path))
    checkpoint.write_partitioned(
        rollup.withColumn("zid", F.coalesce("zone_id", F.lit("none"))),
        out2,
        "zid",
    )
    with pytest.raises(ValueError, match="not written by the chunked"):
        pipeline.run_pipeline_resumable(spark, img_path, out2, chunks=4)

    # manifest-LESS stale data: plain parquet at out_path would be
    # silently summed in by resumable_result — refuse up front
    out3 = str(tmp_path / "rollup3")
    rollup.write.parquet(out3)
    with pytest.raises(ValueError, match="no committed chunk manifest"):
        pipeline.run_pipeline_resumable(spark, img_path, out3, chunks=4)


def test_resumable_pipeline_refuses_input_rewritten_in_place(spark, tmp_path):
    """The lineage guard covers file contents, not only names: a
    committed chunk's file rewritten under the same name with other
    rows must stop the resume instead of summing stale partials."""
    import pyarrow.parquet as pq

    from cdr_analysis_tools_hadoop_spark import pipeline

    img_path = str(tmp_path / "imgs")
    synthetic.images_df(spark, 200, partitions=8).write.parquet(img_path)
    out = str(tmp_path / "rollup")
    pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4, max_chunks=2)
    assert checkpoint.committed_partitions(out) == {"chunk=0", "chunk=1"}

    # file 0 of the sorted listing belongs to the committed chunk 0
    first = sorted(
        f for f in os.listdir(img_path) if f.endswith(".parquet")
    )[0]
    path = os.path.join(img_path, first)
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path)
    # the rewriting writer knows nothing of Hadoop's checksum sidecar
    os.remove(os.path.join(img_path, f".{first}.crc"))

    with pytest.raises(ValueError, match="different input files"):
        pipeline.run_pipeline_resumable(spark, img_path, out, chunks=4)


def test_arrow_batches_are_capped_by_bytes(spark):
    """The engine conf caps Arrow batches to Python by bytes: 1 MB rows
    arrive at most 16 to a batch, narrow rows still 10,000 to one."""

    def batch_rows(batches):
        import pyarrow as pa

        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([rb.num_rows], type=pa.int64())], names=["n"]
            )

    wide = spark.range(0, 100, 1, 1).select(
        F.expr("cast(repeat('x', 1048576) as binary)").alias("blob")
    )
    got = [r.n for r in wide.mapInArrow(batch_rows, "n long").collect()]
    assert sum(got) == 100 and max(got) <= 16
    narrow = spark.range(0, 20000, 1, 1)
    got = [r.n for r in narrow.mapInArrow(batch_rows, "n long").collect()]
    assert got == [10000, 10000]


# ---------------------------------------------------------------------------
# salting


def test_salted_count_matches_plain(cdr):
    plain = {
        (r.uid,): r.n
        for r in cdr.groupBy("uid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r.uid,): r["count"]
        for r in salting.salted_count(cdr, ["uid"], "event_id").collect()
    }
    assert plain == salted


def test_salted_count_distinct_matches_plain(cdr):
    day = F.to_date("call_time").alias("pdt")
    df = cdr.select("uid", day, "event_id")
    plain = {
        r.pdt: r.n
        for r in df.groupBy("pdt").agg(F.countDistinct("uid").alias("n")).collect()
    }
    salted = {
        r.pdt: r.distinct_uid
        for r in salting.salted_count_distinct(df, ["pdt"], "uid").collect()
    }
    assert plain == salted


def test_salted_collect_sorted_matches_plain(cdr):
    small = cdr.filter(F.col("uid") < 5)
    plain = {
        r.uid: [tuple(p) for p in r.arr]
        for r in small.groupBy("uid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("call_time", "event_id"))
            ).alias("arr")
        )
        .collect()
    }
    salted = {
        r.uid: [tuple(p) for p in r.arr]
        for r in salting.salted_collect_sorted(
            small, ["uid"], ["call_time", "event_id"], "event_id", buckets=4
        ).collect()
    }
    assert plain == salted


# ---------------------------------------------------------------------------
# streaming


def test_stream_zone_counts_match_batch(spark, sf_dir, tmp_path):
    towers = synthetic.towers_df(spark, sf_dir)
    src = f"{sf_dir}/events.parquet"
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    import shutil

    shutil.copy(src, stream_dir / "part-0.parquet")
    events_path = str(stream_dir)
    cdr_like = lambda df: df.select(
        "event_id",
        F.col("ts"),
        F.expr(
            __import__(
                "cdr_analysis_tools_hadoop_spark.functions.geo", fromlist=["geo"]
            ).anchor_lat_sql("event_id")
        ).alias("lat"),
        F.expr(
            __import__(
                "cdr_analysis_tools_hadoop_spark.functions.geo", fromlist=["geo"]
            ).anchor_lon_sql("event_id")
        ).alias("lon"),
    )

    stream = zone_stream.read_parquet_stream(spark, events_path, events_path)
    result = zone_stream.zone_window_counts(
        cdr_like(stream), towers, ts_col="ts", window="1 day"
    )
    zone_stream.run_available_now(result, "zwc", str(tmp_path / "ckpt"))
    got = {
        (str(r.window_start), r.zone_id): r.n_events
        for r in spark.sql("SELECT * FROM zwc").collect()
    }

    batch = zone_stream.zone_window_counts(
        cdr_like(spark.read.parquet(events_path)), towers, ts_col="ts", window="1 day"
    )
    want = {
        (str(r.window_start), r.zone_id): r.n_events for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_spread_is_conditional(spark):
    """r3 verdict item 3: the corpus-spread helper must NOT bolt a
    full exchange onto a well-partitioned input — it returns the
    frame untouched (plan-identical, zero Exchange) when partitions
    >= the session parallelism, and still widens a single-file read."""
    from cdr_analysis_tools_hadoop_spark.plans.partitioning import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, par * 2)
    assert spread(wide) is wide  # identity: no Exchange possible
    narrow = spark.range(0, 1000, 1, 1)
    widened = spread(narrow)
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() == par
    # operator-level: a pre-partitioned corpus flows into the dedup
    # shingle stage with no RoundRobin repartition in the plan
    from cdr_analysis_tools_hadoop_spark.operators.dedup import _spread

    docs = spark.createDataFrame(
        [(i, f"doc text number {i}") for i in range(50)],
        "doc_id long, text string",
    ).repartition(par * 2)
    assert _spread(docs) is docs  # identity: dedup adds no Exchange


def test_estimate_rows_and_scaled_near_dup_default_hint(spark, sf_dir):
    """r3 verdict item 7: near_dup_pairs_scaled's default n_hint comes
    from plan statistics, not a planning-time count() job. The
    estimate is order-of-magnitude (recall-safe: banding re-derives
    bands from the recall curve), and the no-hint path still finds
    the seeded tight pairs."""
    from cdr_analysis_tools_hadoop_spark.operators import similarity
    from cdr_analysis_tools_hadoop_spark.plans.partitioning import estimate_rows
    from cdr_analysis_tools_hadoop_spark.sources import synthetic

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    est = estimate_rows(emb)
    actual = emb.count()
    assert est is not None and actual / 50 <= est <= actual * 50
    seeded = synthetic.embeddings_df(spark, 2_000, dup_every=10)
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.near_dup_pairs_scaled(seeded, 0.9).collect()
    }
    want = {(i - 1, i) for i in range(10, 2_000, 10)}
    assert len(want & got) / len(want) >= 0.95


def test_streaming_image_pipeline_matches_batch_and_resumes(spark, tmp_path):
    """The flagship image pipeline run as a Structured Streaming
    query: (1) stream output == batch run_pipeline on identical
    files; (2) new shards landing in the directory are picked up by
    a checkpoint-resumed run and the rollup matches batch over ALL
    files — the live-ingest twin of the resumable batch writer."""
    from cdr_analysis_tools_hadoop_spark import pipeline

    d = tmp_path / "imgs"
    synthetic.images_df(spark, 200, partitions=4).write.parquet(str(d))
    ckpt = str(tmp_path / "ckpt")

    stream = zone_stream.read_parquet_stream(spark, str(d), str(d))
    res = pipeline.run_pipeline(spark, stream)
    zone_stream.run_available_now(res, "img_zt", ckpt)
    key = lambda r: (r.zone_id, r.x, r.y)
    val = lambda r: (r.n_images, r.n_psnr_ok, r.caption_bytes)
    got = {key(r): val(r) for r in spark.sql("SELECT * FROM img_zt").collect()}
    want = {
        key(r): val(r)
        for r in pipeline.run_pipeline(spark, spark.read.parquet(str(d))).collect()
    }
    assert got == want and len(got) > 20

    # a new shard lands: only ids >= 200 are new rows
    synthetic.images_df(spark, 300, partitions=2).filter(
        F.col("image_id") >= "img0000000200"
    ).write.mode("append").parquet(str(d))
    stream2 = zone_stream.read_parquet_stream(spark, str(d), str(d))
    res2 = pipeline.run_pipeline(spark, stream2)
    zone_stream.run_available_now(res2, "img_zt2", ckpt)
    got2 = {
        key(r): val(r) for r in spark.sql("SELECT * FROM img_zt2").collect()
    }
    want2 = {
        key(r): val(r)
        for r in pipeline.run_pipeline(spark, spark.read.parquet(str(d))).collect()
    }
    assert got2 == want2
    assert sum(v[0] for v in got2.values()) == 300


def test_streaming_source_mixture_matches_batch(spark, sf_dir, tmp_path):
    """The document-ingest mixture monitor: stream output == batch on
    identical files (deterministic ingest time derived from doc_id)."""
    import shutil

    d = tmp_path / "docs"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "part-0.parquet")

    def with_ts(df):
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_seconds(1700000000 + (doc_id % 7200) * 10)"
            ),
        )

    stream = zone_stream.read_parquet_stream(spark, str(d), str(d))
    res = zone_stream.streaming_source_mixture(with_ts(stream))
    zone_stream.run_available_now(res, "smix", str(tmp_path / "ck"))
    got = {
        (str(r.win_start), r.source): (r.n_docs, r.n_tokens)
        for r in spark.sql("SELECT * FROM smix").collect()
    }
    want = {
        (str(r.win_start), r.source): (r.n_docs, r.n_tokens)
        for r in zone_stream.streaming_source_mixture(
            with_ts(spark.read.parquet(str(d)))
        ).collect()
    }
    assert got == want and len(got) > 10
