"""Round-10 batch: the commit layer grows Delta-grade multi-writer
ergonomics — disjoint-partition commit REBASE (a loser whose touched
dirs are disjoint from every intervening winner re-claims without
recomputing: logical conflict detection on the generation CAS),
generation TIME TRAVEL over the claim chain (the pointer table's
version log, retained by vacuum_manifested(keep_claims=N)), change
feeds BETWEEN generations (manifested_cdc), and the bloom move-guard
index committed through the pointer log so
upsert_partitioned(commit='pointer', key_bloom_path=...) works on
object stores.

Oracle discipline as in rounds 5-9: merges and change feeds reproduce
exactly in SQL; commit-layer invariants (rebase landed, touched
metadata, single data-compute, retention window, scan-skip) are
asserted in-query as boolean columns the oracle pins TRUE.

Reference scope note: dask-expr has no multi-writer table layer; the
nearest seam is the ToParquet metadata barrier
(reference io/parquet.py:252-336) — these queries cover the beyond-
reference durability extension at the isolation level Delta calls
WriteSerializable.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ._util import cent_sum, cent_sum_sql, tbl

QUERIES: dict = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn
    return deco


def _batch(o, mod: int, prio: str, delta: float):
    """An update slice: +delta on every order with key % mod == 0 in
    one o_orderpriority partition."""
    return (o.where((F.col("o_orderkey") % mod == 0)
                    & (F.col("o_orderpriority") == prio))
            .withColumn("o_totalprice", F.col("o_totalprice") + delta))


# -- disjoint-partition commit rebase (VERDICT r9 item 2): writers A
#    and B read the same base generation and touch DISJOINT
#    partitions; A claims first; B's lost claim REBASES — overlays its
#    dir entries onto A's manifest and claims the next generation —
#    so BOTH land with exactly one data-compute each.  The booleans
#    pin: no ConcurrentCommitError, head generation == base+2, each
#    claim's touched metadata names exactly its writer's dir, and
#    B's dir holds no third (recomputed) file set --------------------
DISJOINT_REBASE_SQL = f"""
WITH upd_a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 97 = 0 AND o_orderpriority = '3-MEDIUM'
),
upd_b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 200.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 89 = 0 AND o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM upd_a
  UNION ALL SELECT * FROM upd_b
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd_a u
                    WHERE u.o_orderkey = o.o_orderkey)
    AND NOT EXISTS (SELECT 1 FROM upd_b u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS rebased, TRUE AS single_compute
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@q("disjoint_rebase_upsert", DISJOINT_REBASE_SQL)
def disjoint_rebase_upsert(spark, sf_dir):
    from .. import fsops
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="disjoint_rebase_")
    path = os.path.join(tmp, "t")
    real = M._write_commit
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        state = {"fired": False}

        def inject(p, man, fs, **kw):
            if not state["fired"]:
                state["fired"] = True        # A's inner claim is real
                M.upsert_partitioned(spark, path,
                                     _batch(o, 97, "3-MEDIUM", 100.0),
                                     ["o_orderkey"], "o_orderpriority",
                                     commit="pointer")
            return real(p, man, fs, **kw)

        M._write_commit = inject
        rebased = True
        try:
            # B loses the claim to A's injected commit and REBASES
            M.upsert_partitioned(spark, path,
                                 _batch(o, 89, "1-URGENT", 200.0),
                                 ["o_orderkey"], "o_orderpriority",
                                 commit="pointer")
        except M.ConcurrentCommitError:
            rebased = False
        finally:
            M._write_commit = real
        fs = fsops.PosixFS()
        head = M.read_commit(path)
        g0 = json.loads(fs.read_text(M._claim_file(path, 0)))
        g1 = json.loads(fs.read_text(M._claim_file(path, 1)))
        g2 = json.loads(fs.read_text(M._claim_file(path, 2)))
        rebased = (rebased and int(head["generation"]) == 2
                   and g1["touched"] == ["o_orderpriority=3-MEDIUM"]
                   and g2["touched"] == ["o_orderpriority=1-URGENT"])
        # single data-compute: every file in B's dir is gen-0
        # (superseded) or head-referenced — a recompute would have
        # appended a third, unreferenced set
        bdir = "o_orderpriority=1-URGENT"
        on_disk = {os.path.join(path, bdir, f)
                   for f in M._part_files(fs, path, bdir)}
        single = on_disk <= (
            set(M.manifest_files(head, path, fs=fs, dirs=[bdir]))
            | set(M.manifest_files(g0, path, fs=fs, dirs=[bdir])))
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg.withColumn("rebased", F.lit(bool(rebased)))
               .withColumn("single_compute", F.lit(bool(single)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M._write_commit = real
        shutil.rmtree(tmp, ignore_errors=True)


def _three_gen_table(spark, sf_dir, prefix):
    """orders as a pointer table with three generations: bootstrap
    (0), +50 on %53 of 2-HIGH (1), +75 on %71 of 5-LOW (2)."""
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix=prefix)
    path = os.path.join(tmp, "t")
    (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
     .write.mode("overwrite").partitionBy("o_orderpriority")
     .parquet(path))
    M.manifest_bootstrap(path, "o_orderpriority")
    M.upsert_partitioned(spark, path, _batch(o, 53, "2-HIGH", 50.0),
                         ["o_orderkey"], "o_orderpriority",
                         commit="pointer")
    M.upsert_partitioned(spark, path, _batch(o, 71, "5-LOW", 75.0),
                         ["o_orderkey"], "o_orderpriority",
                         commit="pointer")
    return o, tmp, path


# -- generation time travel (VERDICT r9 item 3): the claim chain is a
#    version log; vacuum_manifested(keep_claims=2) retires generation
#    0 but keeps 1 readable EXACTLY as committed (claims + every data
#    file they reference), so the query aggregates the PAST state —
#    orders with only the first update applied — after the second
#    update and the vacuum already happened ---------------------------
TIME_TRAVEL_SQL = f"""
WITH upd1 AS (
  SELECT o_orderkey, o_totalprice + 50.0 AS o_totalprice
  FROM orders
  WHERE o_orderkey % 53 = 0 AND o_orderpriority = '2-HIGH'
),
gen1 AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice
  FROM orders o LEFT JOIN upd1 u ON o.o_orderkey = u.o_orderkey
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS gen0_retired, TRUE AS head_intact
FROM gen1 GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@q("pointer_time_travel", TIME_TRAVEL_SQL)
def pointer_time_travel(spark, sf_dir):
    from ..functions import maintenance as M

    o, tmp, path = _three_gen_table(spark, sf_dir, "time_travel_")
    try:
        M.vacuum_manifested(path, keep_claims=2)
        gen0_retired = M.manifest_generations(path) == [1, 2]
        try:
            M.read_manifested(spark, path, generation=0)
            gen0_retired = False          # must have raised
        except ValueError:
            pass
        head_intact = (M.read_manifested(spark, path).count()
                       == o.count())
        agg = (M.read_manifested(spark, path, generation=1)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg
               .withColumn("gen0_retired", F.lit(bool(gen0_retired)))
               .withColumn("head_intact", F.lit(bool(head_intact)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- change feed between generations: manifested_cdc composes the
#    version log with cdc_rows — the delta between generations 1 and
#    2 is exactly the second update's keys, as update records with
#    before/after values ----------------------------------------------
GEN_CDC_SQL = """
SELECT 'update' AS change_type,
       o_orderkey,
       round(o_totalprice, 2) AS o_totalprice_before,
       round(o_totalprice + 75.0, 2) AS o_totalprice_after
FROM orders
WHERE o_orderkey % 71 = 0 AND o_orderpriority = '5-LOW'
ORDER BY o_orderkey
"""


@q("cdc_between_generations", GEN_CDC_SQL)
def cdc_between_generations(spark, sf_dir):
    from ..functions import maintenance as M

    _o, tmp, path = _three_gen_table(spark, sf_dir, "gen_cdc_")
    try:
        cdc = (M.manifested_cdc(spark, path, 1, 2, ["o_orderkey"],
                                compare_cols=["o_totalprice"])
               .select("change_type", "o_orderkey",
                       F.round("o_totalprice_before", 2)
                       .alias("o_totalprice_before"),
                       F.round("o_totalprice_after", 2)
                       .alias("o_totalprice_after"))
               .orderBy("o_orderkey"))
        # JVM-side materialization before the table dir is deleted —
        # same rationale as cdc_between_snapshots (guide §5)
        return cdc.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- pointer-committed bloom key index (VERDICT r9 item 5): the move
#    guard's bloom prefilter now works under commit='pointer' (the
#    index commits through the pointer log, updated before the table
#    claim).  Booleans pin: the insert-only batch skipped the
#    full-table key scan, a partition-moving update was still
#    rejected, and the guard's exact fallback ran exactly once --------
POINTER_BLOOM_SQL = f"""
WITH ins AS (
  SELECT CAST(90000000 + o_orderkey AS BIGINT) AS o_orderkey,
         o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 101 = 0 AND o_orderpriority = '4-NOT SPECIFIED'
),
merged AS (
  SELECT * FROM ins
  UNION ALL SELECT * FROM orders
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS scan_skipped, TRUE AS mover_rejected
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@q("upsert_pointer_bloom", POINTER_BLOOM_SQL)
def upsert_pointer_bloom(spark, sf_dir):
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="pointer_bloom_")
    path = os.path.join(tmp, "t")
    bloom = os.path.join(tmp, "bloom")
    real = M._move_guard_full_scan
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        # tight fpp: the scan-skipped boolean needs ZERO maybe-hits
        # over the insert batch's ~3k keys at x10 — that demands
        # k ≳ log2(n_probe/ε), i.e. fpp ≈ 1e-6 (P(any FP) ≈ 0.003;
        # the old 1e-4 EXPECTED 0.3 false positives at x10 and only
        # passed on a lucky hash draw).  Verified hit-free on every
        # benched corpus (OPTIMIZATION_r10.md)
        M.bloom_append_snapshot(spark, bloom,
                                M.read_manifested(spark, path),
                                ["o_orderkey"], fpp=1e-6)
        calls = []

        def counted(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        M._move_guard_full_scan = counted
        ins = (o.where((F.col("o_orderkey") % 101 == 0)
                       & (F.col("o_orderpriority")
                          == "4-NOT SPECIFIED"))
               .withColumn("o_orderkey",
                           (F.col("o_orderkey")
                            + F.lit(90000000)).cast("long")))
        M.upsert_partitioned(spark, path, ins, ["o_orderkey"],
                             "o_orderpriority", commit="pointer",
                             key_bloom_path=bloom)
        scan_skipped = calls == []
        mover_rejected = False
        # an existing key re-targeted at a DIFFERENT partition
        mover = (o.orderBy("o_orderkey").limit(1)
                 .withColumn("o_orderpriority",
                             F.when(F.col("o_orderpriority")
                                    == "1-URGENT", F.lit("2-HIGH"))
                             .otherwise(F.lit("1-URGENT"))))
        try:
            M.upsert_partitioned(spark, path, mover, ["o_orderkey"],
                                 "o_orderpriority", commit="pointer",
                                 key_bloom_path=bloom)
        except ValueError as exc:
            mover_rejected = "partition-moving" in str(exc)
        exact_once = len(calls) == 1
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg
               .withColumn("scan_skipped",
                           F.lit(bool(scan_skipped and exact_once)))
               .withColumn("mover_rejected",
                           F.lit(bool(mover_rejected)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M._move_guard_full_scan = real
        shutil.rmtree(tmp, ignore_errors=True)
