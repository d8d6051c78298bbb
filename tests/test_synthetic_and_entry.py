from __future__ import annotations

import numpy as np
import pytest

from cdr_analysis_tools_hadoop_spark.functions import codec, geo
from cdr_analysis_tools_hadoop_spark.sources import synthetic


def test_images_df_schema_and_roundtrip(spark):
    df = synthetic.images_df(spark, 60, partitions=4)
    rows = df.collect()
    assert len(rows) == 60
    assert df.columns == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    for r in rows[:10]:
        pix = codec.decode(bytes(r["bytes"]))
        assert pix.shape == (r["h"], r["w"], 3)
        i = int(r["image_id"][3:])
        want = synthetic.generate_pixels(np.array([i]), r["w"], r["h"])[0]
        # lossless codec: byte-exact (input_hint: PSNR >= 40 dB; inf here)
        assert (pix == want).all()
        assert r["caption"] and isinstance(r["caption"], str)
        assert r["phash"] == (i * synthetic.PHASH_MULT) % synthetic.PHASH_MOD


def test_images_df_deterministic(spark):
    a = sorted(
        (r["image_id"], r["phash"], r["caption"])
        for r in synthetic.images_df(spark, 40, partitions=2).collect()
    )
    b = sorted(
        (r["image_id"], r["phash"], r["caption"])
        for r in synthetic.images_df(spark, 40, partitions=8).collect()
    )
    assert a == b


def test_towers_df_matches_np(spark, sf_dir):
    got = sorted(
        (r["zone_id"], r["tlat"], r["tlon"])
        for r in synthetic.towers_df(spark, sf_dir).collect()
    )
    want = synthetic.towers_np(25)
    for (zid, tlat, tlon), row in zip(got, want):
        assert zid == int(row[0])
        assert tlat == pytest.approx(row[1], abs=0)
        assert tlon == pytest.approx(row[2], abs=0)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 25
    assert set(df.columns) == {"zone_id", "admin1", "total_events", "unique_uids"}
    assert sum(r["total_events"] for r in rows) == 1000


def test_queries_oracle_keys_align():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    missing = set(o) - set(q)
    assert not missing, f"oracle without query: {missing}"


def test_every_oracle_emits_no_hugeint_or_decimal(sf_dir):
    """DuckDB widens sum()/count() arithmetic to HUGEINT and decimal
    literals to DECIMAL where Spark emits BIGINT/DOUBLE, and the oracle
    gate's value hash then compares `5` with `5.0`. DESCRIBE every
    oracle_sql() text over the sf tables: no column may be either."""
    import glob
    import os

    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    for path in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    oracles = e.oracle_sql()
    assert len(oracles) >= 100
    wide = {}
    for name, sql in oracles.items():
        types = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(r[0], r[1]) for r in types if r[1] == "HUGEINT" or r[1].startswith("DECIMAL")]
        if bad:
            wide[name] = bad
    con.close()
    assert not wide, wide
