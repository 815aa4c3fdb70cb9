"""Output checks made with DuckDB, an engine independent of the one
under test. Each returns (attempted, failed) counts of points or rows."""
import collections

import duckdb


def _scan(con, store):
    return (f"read_parquet('{store}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def ingest_store(store, files):
    """Every point sent is stored exactly once per source. `files` rows
    are [src, file, stamp_ms, points]; a thermistor reply's 16 points share
    a stamp and differ in their single field key (the channel), a Sens4
    reply is one point. Returns (points sent, points lost + duplicated +
    unexpected)."""
    want = collections.Counter()
    for src, _name, stamp, points in files:
        want[(src, int(stamp))] += points
    con = duckdb.connect()
    got = con.sql(f"""
        SELECT element_at(tags, 'src')[1] AS src, epoch_ms(time) AS ms,
               count(*) AS n, count(DISTINCT map_keys(fields)) AS k
        FROM {_scan(con, store)} GROUP BY ALL""").fetchall()
    seen = {(src, int(ms)): (n, k) for src, ms, n, k in got}
    bad = 0
    for key, n_want in want.items():
        n, k = seen.pop(key, (0, 0))
        bad += max(0, n_want - k) + (n - k)
    bad += sum(n for n, _k in seen.values())
    return sum(want.values()), bad


def backfilled_store(store, archive):
    """The backfilled store equals the archive minus its duplicates.
    Returns (distinct archive rows, rows missing + rows extra)."""
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW a AS SELECT DISTINCT sensor, epoch_us(time) AS t,
        cmb, pir, pz, temp FROM read_parquet('{archive}/**/*.parquet', hive_partitioning = true)""")
    con.execute(f"""CREATE VIEW s AS SELECT element_at(tags, 'sensor')[1] AS sensor,
        epoch_us(time) AS t, element_at(fields, 'cmb')[1] AS cmb,
        element_at(fields, 'pir')[1] AS pir, element_at(fields, 'pz')[1] AS pz,
        element_at(fields, 'temp')[1] AS temp FROM {_scan(con, store)}""")
    n = con.sql("SELECT count(*) FROM a").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM s)").fetchone()[0]
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM a)").fetchone()[0]
    return n, missing + extra
