"""The benchmark's workloads: `analytics` and `table_maintenance`,
which BENCHMARK.json names, and `corpus_pipeline`, which runs the
same way when named with --workload but is left out of the
benchmark's repeated runs to keep them within their time budget.

Each workload generates its inputs from the seed (datagen.py), sets up
once per set-up repetition, and then yields rounds: one round is one
pass of the workload's seeded operation sequence.  An operation is
timed as a whole; inside it the facade build and the result action are
marked as phases, so a traced run can split them.  Every operation
returns a check that runs after the timed section.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen

ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
    "q6_forecast_revenue", "q18_large_orders", "join_semi", "join_broadcast_part",
    "window_user_sessions", "asof_purchase_click", "resample_hourly",
    "pivot_table_priority", "loc_orderkey_slice",
)


@dataclass
class Out:
    """What an operation returns: rows out, its output check (run after
    the round, outside the timed section), and for writes the bytes of
    user data it wrote."""
    rows: int
    check: Callable[[], list[str]] | None = None
    user_bytes: int = 0


@dataclass
class Op:
    name: str
    kind: str      # read, write, or maintenance (closing compaction
    #                and vacuum: counted for amplification, not latency)
    action: str    # toPandas, collect, count or write
    fn: Callable[[Any], Out]


@dataclass
class Ctx:
    spark: Any
    data_dir: str
    work_dir: str
    rng: np.random.Generator
    state: dict = field(default_factory=dict)


def dir_files(paths: list[str]) -> dict[str, int]:
    out = {}
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                try:
                    out[fp] = os.path.getsize(fp)
                except OSError:
                    pass
    return out


def row_bytes(data_dir: str, table: str) -> float:
    """Arrow (uncompressed, in-memory) bytes per row of an input table:
    the unit of user data for write and space amplification."""
    t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
    return t.nbytes / max(1, t.num_rows)


def warm(spark) -> None:
    """JVM, codegen and Python-worker warm-up shared by all workloads."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def twice(s):
        return s * 2.0

    n = spark.sparkContext.defaultParallelism
    (spark.range(0, 100_000, 1, n)
     .select(twice(F.col("id").cast("double")).alias("x"),
             (F.col("id") % 7).alias("k"))
     .groupBy("k").agg(F.sum("x")).collect())


class Analytics:
    """Short registry facade queries with DuckDB oracle SQL, and after
    every third query a parquet export (the round's only writes)."""

    name = "analytics"
    tables = datagen.STAR_TABLES
    sf = 0.1

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry
        ctx.state["registry"] = entry._registry()
        ctx.state["export"] = os.path.join(ctx.work_dir, "export")
        ctx.state["row_bytes"] = row_bytes(ctx.data_dir, "lineitem")
        ctx.state.setdefault("oracle", {})

    def table_dirs(self, ctx: Ctx) -> list[str]:
        return [ctx.state["export"]]

    def round(self, ctx: Ctx) -> list[Op]:
        # fixed order (the seed varies the data and the export years):
        # the first queries of a fresh JVM pay shared JIT compilation,
        # so a seeded order would move that cost between queries.  Only
        # whole ship years are exported: the generated dates stop in
        # November 2001, and that year's smaller export compresses
        # differently, which moved space_amp by 8% whenever it came last.
        years = ctx.rng.choice(range(1995, 2001), 4, replace=False)
        queries = [self._query(ctx, n) for n in ANALYTICS_QUERIES]
        ops = []
        for i, year in enumerate(years):
            ops += queries[3 * i:3 * i + 3] + [self._export(ctx, year)]
        return ops

    def _oracle(self, ctx: Ctx, name: str) -> pd.DataFrame:
        from tests.oracle import duck_con
        cache = ctx.state["oracle"]
        if name not in cache:
            con = ctx.state.setdefault("duck", duck_con(ctx.data_dir))
            cache[name] = con.execute(ctx.state["registry"][name][1]).df()
        return cache[name]

    def _query(self, ctx: Ctx, name: str) -> Op:
        fn, _sql = ctx.state["registry"][name]

        def run(ph) -> Out:
            with ph.build():
                df = _to_spark(fn(ctx.spark, ctx.data_dir))
            with ph.action():
                pdf = df.toPandas()
            ph.planned(df)

            def check() -> list[str]:
                from tests.oracle import compare
                return compare(_Frame(pdf), self._oracle(ctx, name), name)
            return Out(len(pdf), check)
        return Op(name, "read", "toPandas", run)

    def _export(self, ctx: Ctx, year: int) -> Op:
        from dask_expr_spark import read_parquet
        year = int(year)
        out = ctx.state["export"]
        src = os.path.join(ctx.data_dir, "lineitem.parquet")

        def written() -> int:
            return sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
                       for f in os.listdir(out) if f.endswith(".parquet"))

        def run(ph) -> Out:
            with ph.build():
                li = read_parquet(ctx.spark, src)
                sel = li[li["l_shipdate"].dt.year == year]
            with ph.action():
                sel.to_parquet(out)
            n = written()
            ctx.state["live_rows"] = n

            def check() -> list[str]:
                from tests.oracle import duck_con
                con = ctx.state.setdefault("duck", duck_con(ctx.data_dir))
                want = con.execute("SELECT count(*) FROM lineitem WHERE "
                                   f"year(l_shipdate) = {year}").fetchone()[0]
                return [] if n == want else [f"export {year}: wrote {n} rows, oracle {want}"]
            return Out(n, check, int(n * ctx.state["row_bytes"]))
        return Op("export_lineitem_year", "write", "write", run)

    def live_bytes(self, ctx: Ctx) -> float:
        return ctx.state.get("live_rows", 0) * ctx.state["row_bytes"]


class CorpusPipeline:
    """One LLM-data pipeline per round, one operation per step.  Step
    outputs are persisted so each later step reads its input once."""

    name = "corpus_pipeline"
    tables = datagen.CORPUS_TABLES
    sf = 0.05

    def setup(self, ctx: Ctx) -> None:
        ctx.state["row_bytes"] = row_bytes(ctx.data_dir, "documents")
        ctx.state["round"] = 0

    def table_dirs(self, ctx: Ctx) -> list[str]:
        return [ctx.state["out_dir"]]

    def live_bytes(self, ctx: Ctx) -> float:
        return ctx.state.get("live_rows", 0) * ctx.state["row_bytes"]

    def round(self, ctx: Ctx) -> list[Op]:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from dask_expr_spark import read_parquet
        from dask_expr_spark.functions import dedup as DD
        from dask_expr_spark.functions import sampling as S
        from dask_expr_spark.functions import similarity as SIM
        from dask_expr_spark.functions import text as TX
        from dask_expr_spark.sources import zonemap as Z

        spark, st = ctx.spark, ctx.state
        for df in st.pop("persisted", []):
            df.unpersist()
        st["round"] += 1
        if "out_dir" in st:
            shutil.rmtree(st["out_dir"], ignore_errors=True)
        out_dir = st["out_dir"] = os.path.join(ctx.work_dir, f"zorder{st['round']}")
        persisted: list = []
        st["persisted"] = persisted
        docs_path = os.path.join(ctx.data_dir, "documents.parquet")
        emb_path = os.path.join(ctx.data_dir, "embeddings.parquet")
        n_docs = datagen.table_rows(ctx.data_dir, ("documents",))
        n_vecs = datagen.table_rows(ctx.data_dir, ("embeddings",))
        min_chars = int(ctx.rng.integers(450, 550))
        r: dict = {}

        def keep(name, df):
            df = df.persist()
            persisted.append(df)
            r[name] = df
            return df

        def counted(ph, name, build) -> int:
            with ph.build():
                df = build()
            with ph.action():
                n = keep(name, df).count()
            ph.planned(df)
            r[name + "_n"] = n
            return n

        def clean(ph) -> Out:
            def build():
                docs = read_parquet(spark, docs_path).to_spark()
                return (docs.withColumn("pred_lang", TX.lang_id(F.col("text")))
                        .where((TX.token_count(F.col("text")) >= 20)
                               & (TX.stopword_ratio(F.col("text"), TX.STOPWORDS["en"]) >= 0.02)))
            n = counted(ph, "clean", build)
            return Out(n, lambda: [] if 0 < n <= n_docs else [f"clean kept {n} of {n_docs}"])

        def exact(ph) -> Out:
            def build():
                w = Window.partitionBy("__h").orderBy("doc_id")
                return (r["clean"].withColumn("__h", F.md5(F.col("text")))
                        .withColumn("__rn", F.row_number().over(w))
                        .where(F.col("__rn") == 1).drop("__h", "__rn"))
            n = counted(ph, "exact", build)

            def check():
                distinct = r["exact"].select("text").distinct().count()
                return [] if n == distinct <= r["clean_n"] else [
                    f"exact dedup kept {n}, distinct texts {distinct}, input {r['clean_n']}"]
            return Out(n, check)

        def near(ph) -> Out:
            with ph.build():
                pairs = DD.minhash_dedup_pairs(r["exact"], "doc_id", "text", k=3,
                                               num_perm=32, bands=8, threshold=0.7)
            with ph.action():
                pairs = keep("pairs", pairs.select("id_a", "id_b"))
                comp = DD.connected_components_star(pairs)
                dropped = comp.where(F.col("id") != F.col("comp")).select(
                    F.col("id").alias("doc_id"))
                kept = keep("near", r["exact"].join(dropped, "doc_id", "left_anti"))
                n = kept.count()
            r["near_n"] = n
            roots = comp.select("comp").distinct()

            def check():
                missing = roots.join(kept, roots.comp == kept.doc_id, "left_anti").count()
                errs = [] if n <= r["exact_n"] else [f"near dedup grew {r['exact_n']} -> {n}"]
                return errs + ([f"{missing} component roots dropped"] if missing else [])
            return Out(n, check)

        def semantic(ph) -> Out:
            def build():
                emb = read_parquet(spark, emb_path).to_spark()
                return SIM.semantic_dedup(emb, dim=datagen.EMB_DIM, id_col="vec_id",
                                          vec_col="embedding", threshold=0.9,
                                          method="ivf", num_cells=16, seed=7)
            n = counted(ph, "semantic", build)

            def check():
                ids = r["semantic"].select("id").distinct().count()
                return [] if ids == n and 0.5 * n_vecs < n <= n_vecs else [
                    f"semantic dedup kept {n} ({ids} distinct) of {n_vecs}"]
            return Out(n, check)

        def perplexity(ph) -> Out:
            def build():
                sc = TX.bigram_lm_scores(r["near"], "doc_id", "text", k_smooth=0.5)
                good = sc.where(F.col("avg_logprob") >= -3.6).select("doc_id")
                return r["near"].join(good, "doc_id", "left_semi")
            n = counted(ph, "ppl", build)
            return Out(n, lambda: [] if 0 < n <= r["near_n"] else [
                f"perplexity filter kept {n} of {r['near_n']}"])

        def split(ph) -> Out:
            with ph.build():
                train, val = S.leakage_safe_split(r["ppl"], "doc_id", r["pairs"],
                                                  val_fraction=0.1, seed=f"s{ctx.rng.integers(1 << 30)}")
            with ph.action():
                train, val = keep("train", train), keep("val", val)
                nt, nv = train.count(), val.count()
            r["train_n"] = nt

            def check():
                both = train.join(val, "doc_id", "inner").count()
                ids = r["ppl"].select("doc_id")
                pa_ = r["pairs"].join(ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi") \
                    .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
                tv = train.select("doc_id").withColumn("__s", F.lit(0)).unionByName(
                    val.select("doc_id").withColumn("__s", F.lit(1)))
                straddle = (pa_.join(tv.withColumnRenamed("doc_id", "id_a")
                                     .withColumnRenamed("__s", "sa"), "id_a")
                            .join(tv.withColumnRenamed("doc_id", "id_b")
                                  .withColumnRenamed("__s", "sb"), "id_b")
                            .where(F.col("sa") != F.col("sb")).count())
                errs = []
                if both:
                    errs.append(f"{both} docs in both splits")
                if nt + nv != r["ppl_n"]:
                    errs.append(f"split {nt}+{nv} != {r['ppl_n']}")
                if straddle:
                    errs.append(f"{straddle} duplicate pairs straddle the split")
                return errs
            return Out(nt + nv, check)

        def write(ph) -> Out:
            from dask_expr_spark import from_spark
            with ph.build():
                train = from_spark(r["train"].select("doc_id", "text", "lang", "source",
                                                     "n_chars"))
            with ph.action():
                train.to_parquet(out_dir, sort_by=["n_chars", "doc_id"], cluster=("zorder", 8))
                Z.build_zonemap(spark, out_dir, ["n_chars", "doc_id"])
            n = sum(pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
                    for f in os.listdir(out_dir) if f.endswith(".parquet"))
            st["live_rows"] = n
            return Out(n, lambda: [] if n == r["train_n"] else [
                f"z-order write holds {n} rows, train split {r['train_n']}"],
                int(n * st["row_bytes"]))

        def read_back(ph) -> Out:
            preds = [("n_chars", ">=", min_chars)]
            with ph.build():
                got = Z.read_skipping(spark, out_dir, preds)
            with ph.action():
                rows = got.select("doc_id").collect()
            ph.planned(got)

            def check():
                full = spark.read.parquet(out_dir).where(F.col("n_chars") >= min_chars)
                want = sorted(x.doc_id for x in full.select("doc_id").collect())
                return [] if sorted(x.doc_id for x in rows) == want else [
                    f"zone-pruned read {len(rows)} rows != full-scan filter {len(want)}"]
            return Out(len(rows), check)

        return [Op("clean", "read", "count", clean),
                Op("exact_dedup", "read", "count", exact),
                Op("near_dedup", "read", "count", near),
                Op("semantic_dedup", "read", "count", semantic),
                Op("perplexity_filter", "read", "count", perplexity),
                Op("leakage_safe_split", "read", "count", split),
                Op("zorder_write", "write", "write", write),
                Op("read_skipping", "read", "collect", read_back)]


class TableMaintenance:
    """A pointer-committed, zone-mapped orders table with a key bloom,
    driven by seeded writes interleaved with reads.  A pandas model of
    the table, per committed generation, is the oracle."""

    name = "table_maintenance"
    tables = ("orders",)
    sf = 0.1
    PCOL = "o_orderpriority"

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from dask_expr_spark.functions import maintenance as M
        from dask_expr_spark.sources import zonemap as Z

        st = ctx.state
        st["path"] = os.path.join(ctx.work_dir, "orders")
        st["bloom"] = os.path.join(ctx.work_dir, "orders_bloom")
        st["row_bytes"] = row_bytes(ctx.data_dir, "orders")
        src = os.path.join(ctx.data_dir, "orders.parquet")
        o = ctx.spark.read.parquet(src)
        (o.repartitionByRange(2, "o_totalprice").sortWithinPartitions("o_totalprice")
         .write.partitionBy(self.PCOL).parquet(st["path"]))
        M.manifest_bootstrap(st["path"], self.PCOL)
        Z.build_zonemap(ctx.spark, st["path"], ["o_totalprice"])
        M.bloom_append_snapshot(ctx.spark, st["bloom"], M.read_manifested(ctx.spark, st["path"]),
                                ["o_orderkey"], fpp=1e-6)
        M.read_manifested(ctx.spark, st["path"]).groupBy("o_orderstatus").agg(
            F.count(F.lit(1))).collect()
        pdf = pq.read_table(src, columns=["o_orderkey", "o_custkey", "o_orderstatus",
                                          "o_totalprice", "o_orderdate", self.PCOL]).to_pandas()
        st["model"] = pdf.set_index("o_orderkey")
        st["next_key"] = int(pdf.o_orderkey.max()) + 1
        st["gen"] = self._gen(st["path"])
        st["snapshots"] = {st["gen"]: st["model"]}

    @staticmethod
    def _gen(path: str) -> int:
        from dask_expr_spark.functions import maintenance as M
        return int(M.read_commit(path)["generation"])

    def table_dirs(self, ctx: Ctx) -> list[str]:
        return [ctx.state["path"], ctx.state["bloom"]]

    def live_bytes(self, ctx: Ctx) -> float:
        return len(ctx.state["model"]) * ctx.state["row_bytes"]

    def round(self, ctx: Ctx) -> list[Op]:
        st = ctx.state
        round_gen = st["gen"]
        st["snapshots"] = {round_gen: st["model"]}
        # fixed interleaving, seeded contents (keys, partitions,
        # predicates): as in analytics, a seeded order would move JIT
        # warm-up cost between operations from run to run.  Every
        # write is followed by each read, so each read has three
        # samples per round.
        ops = []
        for write in (self._upsert, self._delete, self._upsert):
            ops += [write(ctx), self._read_current(ctx), self._time_travel(ctx, round_gen),
                    self._cdc(ctx, round_gen), self._skipping(ctx)]
        return ops + [self._compact(ctx), self._vacuum(ctx)]

    # -- bookkeeping ------------------------------------------------------
    def _commit(self, ctx: Ctx, model: pd.DataFrame) -> None:
        st = ctx.state
        st["model"] = model
        st["gen"] = self._gen(st["path"])
        st["snapshots"][st["gen"]] = model

    @staticmethod
    def _summary(model: pd.DataFrame, where=None) -> dict:
        m = model if where is None else model[where(model)]
        cents = np.round(m.o_totalprice.to_numpy() * 100).astype(np.int64)
        g = pd.DataFrame({"s": m.o_orderstatus.to_numpy(), "c": cents}).groupby("s")
        return {s: (int(n), float(c) / 100.0) for s, n, c in
                zip(g.size().index, g.size().to_numpy(), g.c.sum().to_numpy())}

    def _agg(self, df):
        from pyspark.sql import functions as F

        from dask_expr_spark.queries._util import cent_sum
        return (df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), cent_sum(F.col("o_totalprice")).alias("t")))

    @staticmethod
    def _got(rows) -> dict:
        return {r["o_orderstatus"]: (int(r["n"]), float(r["t"])) for r in rows}

    def _agg_op(self, ctx, name, build, gen, where=None) -> Op:
        def run(ph) -> Out:
            with ph.build():
                df = self._agg(build())
            with ph.action():
                rows = df.collect()
            ph.planned(df)
            g = gen() if callable(gen) else gen

            def check():
                want = self._summary(ctx.state["snapshots"][g], where)
                got = self._got(rows)
                return [] if got == want else [f"{name} at generation {g}: {got} != {want}"]
            return Out(sum(n for n, _ in self._got(rows).values()), check)
        return Op(name, "read", "collect", run)

    # -- reads ------------------------------------------------------------
    def _read_current(self, ctx: Ctx) -> Op:
        from dask_expr_spark.functions import maintenance as M
        st = ctx.state
        return self._agg_op(ctx, "read_current",
                            lambda: M.read_manifested(ctx.spark, st["path"]),
                            lambda: st["gen"])

    def _time_travel(self, ctx: Ctx, gen: int) -> Op:
        from dask_expr_spark.functions import maintenance as M
        st = ctx.state
        return self._agg_op(ctx, "read_time_travel",
                            lambda: M.read_manifested(ctx.spark, st["path"], generation=gen),
                            gen)

    def _skipping(self, ctx: Ctx) -> Op:
        from dask_expr_spark.sources import zonemap as Z
        st = ctx.state
        lo = float(np.round(ctx.rng.uniform(400_000, 480_000), 2))
        return self._agg_op(ctx, "read_skipping",
                            lambda: Z.read_skipping(ctx.spark, st["path"],
                                                    [("o_totalprice", ">=", lo)]),
                            lambda: st["gen"], lambda m: m.o_totalprice >= lo)

    def _cdc(self, ctx: Ctx, from_gen: int) -> Op:
        from pyspark.sql import functions as F

        from dask_expr_spark.functions import maintenance as M
        st = ctx.state

        def run(ph) -> Out:
            to_gen = st["gen"]
            with ph.build():
                df = (M.manifested_cdc(ctx.spark, st["path"], from_gen, to_gen,
                                       ["o_orderkey"])
                      .groupBy("change_type").agg(F.count(F.lit(1)).alias("n")))
            with ph.action():
                rows = df.collect()
            ph.planned(df)
            got = {r["change_type"]: int(r["n"]) for r in rows}

            def check():
                a, b = st["snapshots"][from_gen], st["snapshots"][to_gen]
                want = {}
                ins = len(b.index.difference(a.index))
                dele = len(a.index.difference(b.index))
                common = a.index.intersection(b.index)
                upd = int((a.loc[common] != b.loc[common]).any(axis=1).sum())
                for k, v in (("insert", ins), ("delete", dele), ("update", upd)):
                    if v:
                        want[k] = v
                return [] if got == want else [
                    f"cdc {from_gen}->{to_gen}: {got} != {want}"]
            return Out(sum(got.values()), check)
        return Op("read_cdc", "read", "collect", run)

    # -- writes -----------------------------------------------------------
    def _write_op(self, name, ctx, run_write, model_after, user_rows,
                  kind="write") -> Op:
        def run(ph) -> Out:
            run_write(ph)
            self._commit(ctx, model_after())
            n = user_rows()
            return Out(n, None, int(n * ctx.state["row_bytes"]))
        return Op(name, kind, "write", run)

    def _upsert(self, ctx: Ctx) -> Op:
        from dask_expr_spark.functions import maintenance as M
        st = ctx.state
        rng = np.random.default_rng(int(ctx.rng.integers(1 << 62)))
        box: dict = {}

        parts = list(rng.choice(datagen.PRIORITIES, 2, replace=False))

        def batch() -> pd.DataFrame:
            # late corrections and new orders in two of the five partitions
            model = st["model"]
            n_upd = max(1, len(model) // 100)
            n_ins = max(1, len(model) // 500)
            pos = np.flatnonzero(model[self.PCOL].isin(parts).to_numpy())
            upd = model.iloc[np.sort(rng.choice(pos, min(n_upd, len(pos)), replace=False))].copy()
            upd["o_totalprice"] = np.round(upd.o_totalprice + 750.0, 2)
            keys = np.arange(st["next_key"], st["next_key"] + n_ins, dtype=np.int64)
            ins = pd.DataFrame({
                "o_custkey": rng.integers(0, 1000, n_ins),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ins),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ins), 2),
                "o_orderdate": pd.to_datetime("2001-09-01").as_unit("us") + pd.to_timedelta(
                    rng.integers(0, 365, n_ins), unit="D"),
                self.PCOL: rng.choice(parts, n_ins)}, index=pd.Index(keys, name="o_orderkey"))
            return pd.concat([upd, ins])

        def write(ph):
            b = batch()
            box["b"] = b
            with ph.build():
                updates = ctx.spark.createDataFrame(b.reset_index())
            with ph.action():
                M.upsert_partitioned(ctx.spark, st["path"], updates, ["o_orderkey"], self.PCOL,
                                     commit="pointer", key_bloom_path=st["bloom"])
            st["next_key"] = int(b.index.max()) + 1

        def after():
            b, m = box["b"], st["model"]
            return pd.concat([m.drop(b.index, errors="ignore"), b]).sort_index()
        return self._write_op("upsert", ctx, write, after, lambda: len(box["b"]))

    def _delete(self, ctx: Ctx) -> Op:
        from pyspark.sql import functions as F

        from dask_expr_spark.functions import maintenance as M
        st = ctx.state
        r = int(ctx.rng.integers(0, 211))

        def write(ph):
            with ph.build():
                pred = (F.col("o_custkey") % 211) == r
            with ph.action():
                M.delete_where(ctx.spark, st["path"], pred, self.PCOL, commit="pointer")

        def after():
            m = st["model"]
            return m[m.o_custkey % 211 != r]
        return self._write_op("delete_where", ctx, write, after, lambda: 0)

    def _compact(self, ctx: Ctx) -> Op:
        from dask_expr_spark.functions import maintenance as M
        st = ctx.state

        def write(ph):
            with ph.action():
                M.compact_manifested(ctx.spark, st["path"])
        return self._write_op("compact_manifested", ctx, write, lambda: st["model"], lambda: 0,
                              kind="maintenance")

    def _vacuum(self, ctx: Ctx) -> Op:
        from dask_expr_spark.functions import maintenance as M
        st = ctx.state

        def run(ph) -> Out:
            with ph.action():
                removed = M.vacuum_manifested(st["path"], keep_claims=1)
            return Out(removed)
        return Op("vacuum_manifested", "maintenance", "write", run)

    def final_check(self, ctx: Ctx) -> list[str]:
        """The table after the last round agrees with the model."""
        from dask_expr_spark.functions import maintenance as M
        got = self._got(self._agg(M.read_manifested(ctx.spark, ctx.state["path"])).collect())
        want = self._summary(ctx.state["model"])
        return [] if got == want else [f"final table {got} != model {want}"]


WORKLOADS = {w.name: w for w in (Analytics, CorpusPipeline, TableMaintenance)}


class _Frame:
    """Adapter giving an already-collected pandas result the
    ``toPandas()`` the oracle comparison calls."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _to_spark(df):
    return df.to_spark() if hasattr(df, "to_spark") else df
