"""The benchmark workloads and their correctness twins.

Each workload has the same life cycle, driven by ``run.py``:

``inputs(rep)``  generate the seeded input tables and write them
                 (repeated, so set-up time is a median);
``build()``      the engine's one-time work before the first request
                 (cold zone cover, ANN index, resumable cutout write);
``oracle()``     the benchmark's own expected results (DuckDB / numpy),
                 excluded from set-up time;
``request(i)``   one closed-loop request: build the DataFrame through
                 the engine's public functions, plan it, execute it,
                 and check the result.  Returns True when correct.

Layer numbers go into ``self.layers`` (set-up) and the ``layers`` dict
a traced request passes in; names follow BENCHMARK.json's
``per_layer`` list.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.trace import JobCounter, plan_nodes, plan_summary

#: input sizes per scale; "tiny" is for the benchmark's own tests
SIZES = {
    "full": {
        "n_docs": 100_000,
        "ann_n": 10_000, "ann_batch": 64, "ann_batches": 8,
        "cut_months": 2, "cut_hours": 72, "cut_ny": 24, "cut_nx": 30,
    },
    "tiny": {
        "n_docs": 2_000,
        "ann_n": 1_000, "ann_batch": 8, "ann_batches": 2,
        "cut_months": 2, "cut_hours": 2, "cut_ny": 3, "cut_nx": 4,
    },
}


@contextlib.contextmanager
def timed(tracer, name: str, out: dict):
    """Add the block's wall time to ``out[name]`` and trace it as a span."""
    t = time.perf_counter()
    with tracer.span(name):
        yield
    out[name] = out.get(name, 0.0) + time.perf_counter() - t


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Context:
    """What every workload needs: the session, the tracer, a private
    work directory, the seed and the input sizes."""

    def __init__(self, spark, tracer, work: str, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = SIZES[scale]
        self.jobs = JobCounter(spark) if tracer.enabled else None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextlib.contextmanager
    def job_group(self, out: dict | None, prefix: str):
        if self.jobs is None or out is None:
            yield
        else:
            with self.jobs.group(out, prefix):
                yield


def run_query(ctx: Context, build, layers: dict | None, prefix: str):
    """Plan and execute ``build()``'s DataFrame; return (rows, timings).

    ``build`` runs under a job group so plan-time Spark jobs (eager
    driver collects) are counted apart from execution.  With a
    ``layers`` dict, plan metrics are read from the final adaptive plan.
    """
    t = {}
    scratch = {} if layers is not None else None
    with ctx.job_group(scratch, "spark.build_"):
        with timed(ctx.tracer, f"{prefix}.build_s", t):
            df = build()
    with timed(ctx.tracer, "spark.plan_s", t):
        df._jdf.queryExecution().executedPlan()
    with ctx.job_group(scratch, "spark."):
        with timed(ctx.tracer, "spark.exec_s", t):
            rows = df.collect()
    if layers is not None:
        nodes = plan_nodes(df)
        layers.update(t)
        layers.update(scratch)
        layers["_nodes"] = nodes
        layers["_summary"] = plan_summary(nodes)
    return rows, t


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.layers: dict[str, float] = {}
        self.detail: dict[str, list[float]] = {}
        self.checks: list[bool] = []

    def note(self, key: str, value: float) -> None:
        self.detail.setdefault(key, []).append(value)

    def forget_requests(self) -> None:
        """Drop the warm-up request's samples; keep set-up numbers."""
        for k in list(self.detail):
            if k.endswith("_p50_s") or k == "recall_at_10":
                del self.detail[k]


# ---------------------------------------------------------------------------
# hex zonal mean (a part of cutout_zonal)
# ---------------------------------------------------------------------------

def _first_rows_below(nodes: list[dict], idx: int) -> float:
    """numOutputRows of the first node under ``idx`` (first child chain)
    that reports one: codegen'd projections carry no metrics."""
    kids = [n for n in nodes if n["parent"] == idx]
    while kids:
        n = kids[0]
        if "numOutputRows" in n["metrics"]:
            return n["metrics"]["numOutputRows"]
        kids = [c for c in nodes if c["parent"] == n["index"]]
    return 0.0


def zonal_layers(nodes: list[dict]) -> dict[str, float]:
    """Per-layer counts of the flagship plan: rows into / out of the
    zone join, partial aggregation output, hex encode UDF traffic."""
    out = {}
    joins = [n for n in nodes if n["name"] == "BroadcastHashJoin"]
    if joins:
        j = joins[0]
        rows_in = _first_rows_below(nodes, j["index"])
        out["spatial.points_rows"] = rows_in
        out["spatial.pip_keep_ratio"] = (
            j["metrics"].get("numOutputRows", 0.0) / rows_in if rows_in else 0.0)

    def has_exchange_above(n):
        p = n["parent"]
        while p is not None:
            if nodes[p]["name"] == "Exchange":
                return True
            p = nodes[p]["parent"]
        return False

    out["zonal.partial_rows_out"] = sum(
        n["metrics"].get("numOutputRows", 0.0) for n in nodes
        if n["name"] == "HashAggregate" and has_exchange_above(n))
    py = [n for n in nodes if n["name"] == "ArrowEvalPython"]
    out["hexgrid.encode_python_s"] = sum(n["metrics"].get("pythonTotalTime", 0.0) for n in py)
    out["hexgrid.encode_rows"] = sum(n["metrics"].get("pythonNumRowsReceived", 0.0) for n in py)
    out["hexgrid.python_bytes"] = sum(
        n["metrics"].get("pythonDataSent", 0.0) + n["metrics"].get("pythonDataReceived", 0.0)
        for n in py)
    return out


class ZonalHex(Workload):
    """documents → parse_geo_spans → join_zones(hex) → zonal_weighted_mean."""

    grain, res = "hex", 5

    def __init__(self, ctx):
        super().__init__(ctx)
        self.docs_path = ctx.path("documents")

    def inputs(self, rep: int) -> None:
        shutil.rmtree(self.docs_path, ignore_errors=True)
        _, self.geo = gen.write_documents(self.ctx.seed, self.ctx.size["n_docs"],
                                          self.docs_path)

    def build(self) -> None:
        from geodata_spark import spatial
        from geodata_spark.zones import ZONES

        with timed(self.ctx.tracer, "spatial.zone_cover_df.cold_s", self.layers):
            self.cover = spatial.zone_cover_df(self.ctx.spark, ZONES, self.res, grain=self.grain)

    def oracle(self) -> None:
        import duckdb
        import pyarrow as pa

        from geodata_spark import zonal
        from geodata_spark.zones import zone_membership_sql

        w = zonal.ORACLE_AREA_WEIGHT_SQL
        con = duckdb.connect()
        con.register("pts", pa.table(self.geo))
        self.expected = _sorted_frame(con.execute(f"""
            WITH zoned AS ({zone_membership_sql('pts')})
            SELECT zone_id, CAST(hour // 24 AS INT) AS day_idx,
                   sum(val * {w}) / sum({w}) AS wavg,
                   sum({w}) AS weight_sum, count(*) AS n_points
            FROM zoned GROUP BY zone_id, day_idx""").df())
        con.close()
        if self.ctx.tracer.enabled:
            self.layers["spatial.pip_rows_tested"] = self._boundary_points()

    def _boundary_points(self) -> float:
        """Geo points whose cell is a boundary cell of some zone: the
        rows the exact point-in-polygon test runs on."""
        from geodata_spark import hexgrid

        cover = self.cover.toPandas()
        cell_col = [c for c in cover.columns if c.startswith("cell_")][0]
        bcells = cover.loc[cover["boundary"], cell_col].to_numpy()
        ids = hexgrid.hex7_id_np(self.geo["lat"], self.geo["lon"], self.res)
        return float(np.isin(ids, bcells).sum())

    def query(self, lay: dict):
        from pyspark.sql import functions as F

        from geodata_spark import spatial, zonal
        from geodata_spark.zones import ZONES

        ctx = self.ctx
        docs = ctx.spark.read.parquet(self.docs_path)
        with timed(ctx.tracer, "spatial.parse_geo_spans.build_s", lay):
            pts = spatial.parse_geo_spans(docs)
        with timed(ctx.tracer, "spatial.join_zones.build_s", lay):
            zoned = spatial.join_zones(pts, ctx.spark, ZONES, res=self.res, grain=self.grain)
        with timed(ctx.tracer, "zonal.zonal_weighted_mean.build_s", lay):
            weighted = zoned.withColumn(
                "w", zonal.oracle_area_weight_expr(F.col("lat"))
            ).withColumn("day_idx", (F.col("hour") / F.lit(24)).cast("int"))
            return zonal.zonal_weighted_mean(
                weighted, "val", "w", ["zone_id", "day_idx"], out_col="wavg")

    def request(self, i: int, layers: dict | None) -> bool:
        lay = {}
        rows, t = run_query(self.ctx, lambda: self.query(lay), layers, "zonal.request")
        self.note("zonal_p50_s", sum(t.values()))
        if layers is not None:
            layers.update(lay)
            nodes = layers.pop("_nodes")
            s = layers.pop("_summary")
            layers["spark.shuffle_bytes"] = s["shuffle_bytes"]
            layers["spatial.broadcast_bytes"] = s["broadcast_bytes"]
            layers["spatial.broadcast_build_s"] = s["broadcast_build_s"]
            layers["zonal.agg_peak_mem_bytes"] = s["agg_peak_mem_bytes"]
            layers.update(zonal_layers(nodes))
        import pandas as pd

        got = pd.DataFrame([r.asDict() for r in rows])
        return frames_equal(_sorted_frame(got), self.expected)


def _sorted_frame(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def frames_equal(a, b) -> bool:
    """Row-for-row, bit-exact compare (NULL == NULL), as the oracle
    sweep compares Spark results with their DuckDB twins."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if a[c].dtype.kind in "fiu" and b[c].dtype.kind in "fiu":
            x = a[c].astype("float64").values
            y = b[c].astype("float64").values
            if not ((x == y) | (np.isnan(x) & np.isnan(y))).all():
                return False
        elif not (a[c].astype(str).values == b[c].astype(str).values).all():
            return False
    return True


# ---------------------------------------------------------------------------
# ann_batch
# ---------------------------------------------------------------------------

ANN = {"dim": 64, "n_clusters": 64, "noise": 1.15, "n_cells": 16, "k": 10,
       "pq_m": 4, "pq_ksub": 16, "pq_iters": 1, "shortlist": 200,
       "ivf_probe": 4, "ivfpq_probe": 8}
SCORERS = ("brute", "ivf", "lsh", "pq_refine", "ivfpq")
#: exact scores are rounded to 6 dp by the engine
SCORE_TOL = 1.5e-6


class AnnBatch(Workload):
    name = "ann_batch"

    def inputs(self, rep: int) -> None:
        sz = self.ctx.size
        self.x, centres = gen.embeddings(self.ctx.seed, sz["ann_n"], ANN["dim"],
                                         ANN["n_clusters"], ANN["noise"])
        self.batches = gen.query_batches(self.ctx.seed, centres, sz["ann_batches"],
                                         sz["ann_batch"], ANN["noise"])
        shutil.rmtree(self.ctx.path("vectors"), ignore_errors=True)
        gen.write_embeddings(self.x, self.ctx.path("vectors"))

    def build(self) -> None:
        from geodata_spark.pipeline import similarity as SIM

        ctx, spark = self.ctx, self.ctx.spark
        self.vecs = spark.read.parquet(ctx.path("vectors"))
        self.cents = SIM.ivf_centroids(self.vecs, ANN["n_cells"])
        with timed(ctx.tracer, "similarity.ivf_assign_s", self.layers):
            SIM.ivf_assign(self.vecs, self.cents).write.mode("overwrite") \
                .partitionBy("cell").parquet(ctx.path("ivf_index"))
        with timed(ctx.tracer, "similarity.pq_train_encode_s", self.layers):
            codes, self.books = SIM.pq_train_encode(
                self.vecs, m=ANN["pq_m"], ksub=ANN["pq_ksub"], iters=ANN["pq_iters"])
            codes.write.mode("overwrite").parquet(ctx.path("pq_codes"))
        self.assigned = spark.read.parquet(ctx.path("ivf_index"))
        self.codes = spark.read.parquet(ctx.path("pq_codes"))
        self.note("ann_build_s", self.layers["similarity.ivf_assign_s"]
                  + self.layers["similarity.pq_train_encode_s"])

    def oracle(self) -> None:
        """Exact top-k per batch by numpy (float64 dot of the unit vectors)."""
        k = ANN["k"]
        x64 = self.x.astype(np.float64)
        self.exact = []
        for q in self.batches:
            s = q.astype(np.float64) @ x64.T
            top = np.argsort(-s, axis=1, kind="stable")[:, :k]
            self.exact.append((s, top))

    def _scorer(self, m: str, queries):
        from geodata_spark.pipeline import similarity as SIM

        k = ANN["k"]
        if m == "brute":
            return SIM.brute_force_topk(self.vecs, queries, k=k)
        if m == "ivf":
            return SIM.ivf_probe(self.assigned, self.cents, queries,
                                 n_probe=ANN["ivf_probe"], k=k)
        if m == "lsh":
            return SIM.hyperplane_lsh_topk(self.vecs, queries, dim=ANN["dim"], k=k)
        if m == "pq_refine":
            return SIM.pq_topk_refined(self.codes, self.books, self.vecs, queries,
                                       k=k, shortlist=ANN["shortlist"])
        return SIM.ivfpq_topk(self.assigned, self.codes, self.books, self.cents,
                              self.vecs, queries, n_probe=ANN["ivfpq_probe"], k=k,
                              shortlist=ANN["shortlist"])

    def request(self, i: int, layers: dict | None) -> bool:
        ctx = self.ctx
        b = i % len(self.batches)
        q = self.batches[b]
        scores, top = self.exact[b]
        t = {}
        # query ids never collide with vector ids: the scorers treat an
        # equal id as the query's own corpus row and exclude it
        base = len(self.x) + b * len(q)
        with timed(ctx.tracer, "similarity.queries_df_s", t):
            queries = ctx.spark.createDataFrame(gen.vectors_table(
                base + np.arange(len(q)), q, "query_id", "query_vec").to_pandas())
        ok = True
        recalls = []
        for m in SCORERS:
            lay = {} if layers is not None else None
            rows, tm = run_query(ctx, lambda: self._scorer(m, queries), lay,
                                 f"similarity.{m}")
            self.note(f"{m}_p50_s", sum(tm.values()))
            good, recall = check_topk(rows, base, scores, top, exact=(m == "brute"))
            ok &= good
            if m != "brute":
                recalls.append(recall)
            if layers is not None:
                s = lay["_summary"]
                layers[f"similarity.{m}.build_s"] = lay[f"similarity.{m}.build_s"]
                layers[f"similarity.{m}.build_jobs"] = lay["spark.build_jobs"]
                layers[f"similarity.{m}.exec_s"] = lay["spark.exec_s"]
                layers[f"similarity.{m}.python_s"] = s["python_s"]
                layers[f"similarity.{m}.shuffle_bytes"] = s["shuffle_bytes"]
                if m == "lsh":
                    pairs = lsh_candidate_pairs(lay["_nodes"])
                    layers["similarity.lsh.candidate_pairs"] = pairs
                    layers["similarity.lsh.useful_ratio"] = (
                        len(q) * ANN["k"] / pairs if pairs else 0.0)
        self.note("recall_at_10", float(np.mean(recalls)))
        return ok


def lsh_candidate_pairs(nodes: list[dict]) -> float:
    """Rows fed to the LSH scorer: the de-duplicated (query, vector)
    candidate pairs (input of the Python scorer node)."""
    for n in nodes:
        if n["name"].startswith(("MapInArrow", "PythonMapInArrow", "MapInPandas")):
            return _first_rows_below(nodes, n["index"])
    return 0.0


def check_topk(rows, base: int, scores: np.ndarray, top: np.ndarray, exact: bool
               ) -> tuple[bool, float]:
    """Check one scorer's rows against the exact scores (query ids
    start at ``base``).

    Every query gets k distinct ids whose reported score equals the
    exact cosine (to the engine's 6-dp rounding).  The exact scorer's
    ids must also all score at least the exact k-th best.  Returns
    (ok, recall@k).
    """
    k = top.shape[1]
    got: dict[int, list] = {}
    for r in rows:
        d = r.asDict()
        score = d.get("cosine_r6", d.get("dot_r6"))
        got.setdefault(int(d["query_id"]) - base, []).append((int(d["vec_id"]), score))
    ok = len(got) == len(top)
    hits = 0
    for qi in range(len(top)):
        res = got.get(qi, [])
        ids = [v for v, _ in res]
        if len(ids) != k or len(set(ids)) != k:
            ok = False
            continue
        exact_s = scores[qi, ids]
        if np.abs(exact_s - np.array([s for _, s in res], dtype=np.float64)).max() > SCORE_TOL:
            ok = False
        if exact and exact_s.min() < scores[qi, top[qi, -1]] - 2 * SCORE_TOL:
            ok = False
        hits += len(set(ids) & set(top[qi].tolist()))
    return ok, hits / (len(top) * k)


# ---------------------------------------------------------------------------
# cutout prepare and convert (a part of cutout_zonal)
# ---------------------------------------------------------------------------

CONVERSIONS = ("wind", "pv", "heat_demand")
#: conversion sums are not dyadic: the engines round each transcendental
#: step differently in the last bit, and the pv chain's asin/acos steps
#: amplify that to ~1e-9 relative (the registry's pv twin compares 3 dp)
CONVERT_RTOL = 1e-6


class CutoutPrepare(Workload):
    """Resumable cutout write in set-up; wind, pv and heat conversions
    over the committed cutout as requests."""

    def __init__(self, ctx):
        super().__init__(ctx)
        sz = ctx.size
        self.n_rows = sz["cut_months"] * sz["cut_hours"] * sz["cut_ny"] * sz["cut_nx"]
        self.in_path = ctx.path("cutout_in")
        self.out_path = ctx.path("cutout_out")

    def inputs(self, rep: int) -> None:
        sz = self.ctx.size
        table = gen.cutout(self.ctx.seed, sz["cut_months"], sz["cut_hours"],
                           sz["cut_ny"], sz["cut_nx"])
        shutil.rmtree(self.in_path, ignore_errors=True)
        self.in_bytes = gen.write_cutout(table, self.in_path)

    def build(self) -> None:
        """Prepare the cutout: a killed run after half the months, then
        the resumed run.  ``oracle`` checks what it committed."""
        from geodata_spark import lineage

        ctx, spark = self.ctx, self.ctx.spark
        shutil.rmtree(self.out_path, ignore_errors=True)
        self.source = spark.read.parquet(self.in_path)
        n_parts = ctx.size["cut_months"]
        half = n_parts // 2
        lay = self.layers
        jobs: dict = {}
        t0 = time.perf_counter()
        with ctx.job_group(jobs, "kill_"):
            with timed(ctx.tracer, "lineage.killed_run_s", lay):
                try:
                    lineage.run_partitioned(spark, self.source, _prepare, self.out_path,
                                            "month", fail_after=half)
                    self.killed = False
                except RuntimeError:
                    self.killed = True
        with timed(ctx.tracer, "lineage.resume_call_s", lay):
            self.resumed = lineage.run_partitioned(spark, self.source, _prepare,
                                                   self.out_path, "month")
        prepare_s = time.perf_counter() - t0
        self.note("resume_s", lay["lineage.resume_call_s"])
        self.note("prepare_rows_per_s", self.n_rows / prepare_s)
        out_bytes = dir_bytes(self.out_path)
        self.note("write_amp", out_bytes / self.in_bytes)
        lay["lineage.bytes_written"] = out_bytes
        lay["lineage.log_bytes"] = os.path.getsize(
            os.path.join(self.out_path, "_lineage.jsonl"))
        lay["lineage.skipped_share"] = len(self.resumed["skipped"]) / n_parts
        if jobs:
            # all jobs of the killed run (its input fingerprint included)
            # per partition it committed
            lay["lineage.jobs_per_partition"] = jobs["kill_jobs"] / half

    def check_prepared(self) -> bool:
        """The resume skipped exactly the killed run's months, and the
        lineage log and committed rows match the input month by month."""
        from geodata_spark import lineage

        spark, lay, res = self.ctx.spark, self.layers, self.resumed
        log = lineage.LineageLog(self.out_path).load()
        walls = [r["wall_sec"] for r in log.values()]
        lay["lineage.partition_wall_p50_s"] = statistics.median(walls) if walls else 0.0
        with timed(self.ctx.tracer, "lineage.partition_fingerprint_s", lay):
            fp_in = lineage.partition_fingerprint(self.source, "month")
        out = lineage.read_output(spark, self.out_path, "month").select(*self.source.columns)
        fp_out = lineage.partition_fingerprint(out, "month")
        half = len(fp_in) // 2
        return (
            self.killed
            and sorted(res["skipped"]) == sorted(fp_in)[:half]
            and len(res["completed"]) == len(fp_in) - half
            and len(log) == len(fp_in)
            and all(r["output_rows"] == fp_in[p][0] for p, r in log.items())
            and fp_out == fp_in
        )

    def oracle(self) -> None:
        """Check the prepared cutout; then per-month conversion
        aggregates by DuckDB over the input files, from the same
        ``formulas`` SQL the engine evaluates."""
        import duckdb

        from geodata_spark import convert as C
        from geodata_spark import formulas as FM

        t = C.TURBINE_SUZLON_S82
        wind = FM.interp_curve(C.extrapolate_wind_speed_sql(t["hub_height"]),
                               list(t["V"]), [p / t["P"] for p in t["POW"]])
        sp = FM.solar_position(influx_toa="influx_toa")
        direct = FM.clip_influx("influx_direct", "sp_toa")
        diffuse = FM.clip_influx("influx_diffuse", f"(sp_toa - {direct})")
        total = FM.suppress_low_sun(
            FM.tilted_irradiation_simple("irr_direct", "irr_diffuse", "so_cosinc",
                                         "sp_alt", "so_slope", "albedo"),
            "sp_alt", "irr_direct", "irr_diffuse")
        self.checks.append(self.check_prepared())
        hd = FM.heat_demand("t", 15.0, 1.0)
        src = f"read_parquet('{self.in_path}/*/*.parquet', hive_partitioning = true)"
        # the pv chain in the same materialised steps as convert.pv: the
        # inlined expression tree is too large for DuckDB to evaluate fast
        pv_steps = f"""
            s1 AS MATERIALIZED (SELECT month, lat, temperature, influx_direct,
                   influx_diffuse, albedo, {sp['altitude']} AS sp_alt,
                   {sp['azimuth']} AS sp_az, influx_toa AS sp_toa FROM {src}),
            s2 AS MATERIALIZED (SELECT *, {FM.latitude_optimal_slope()} AS so_slope,
                   radians(180.0) AS so_az FROM s1),
            s3 AS MATERIALIZED (SELECT *, {FM.cosincidence('so_slope', 'so_az', 'sp_alt', 'sp_az')}
                   AS so_cosinc, {direct} AS irr_direct, {diffuse} AS irr_diffuse FROM s2),
            s4 AS MATERIALIZED (SELECT month, {FM.power_bofinger(total, 'temperature', C.PANEL_KANEKA)}
                   AS pv FROM s3)"""
        con = duckdb.connect()
        self.expected = {
            "wind": _records(con, f"""
                WITH w AS MATERIALIZED (SELECT month, {wind} AS x FROM {src})
                SELECT CAST(month AS BIGINT), count(*), sum(x), max(x) FROM w GROUP BY 1"""),
            "pv": _records(con, f"""
                WITH {pv_steps}
                SELECT CAST(month AS BIGINT), count(*), sum(pv), max(pv) FROM s4 GROUP BY 1"""),
            "heat_demand": _records(con, f"""
                WITH d AS (SELECT hour // 24 AS day_idx, lat, lon,
                                  avg(temperature) AS t FROM {src} GROUP BY 1, 2, 3)
                SELECT CAST(day_idx AS BIGINT), count(*), sum({hd}), max({hd})
                FROM d GROUP BY 1"""),
        }
        con.close()

    def conversion(self, fn: str):
        from pyspark.sql import functions as F

        from geodata_spark import convert as C
        from geodata_spark import lineage

        cut = lineage.read_output(self.ctx.spark, self.out_path, "month")
        if fn == "wind":
            out, col, g = C.wind(cut, C.TURBINE_SUZLON_S82), "wind", "month"
        elif fn == "pv":
            out = C.pv(cut, C.PANEL_KANEKA, orientation="latitude_optimal",
                       trigon_model="simple")
            col, g = "pv", "month"
        else:
            out, col, g = C.heat_demand(cut, threshold=15.0, a=1.0), "heat_demand", "day_idx"
        return out.groupBy(F.col(g).cast("long").alias("g")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(col).alias("s"), F.max(col).alias("mx"))

    def request(self, i: int, layers: dict | None) -> bool:
        ok = True
        for fn in CONVERSIONS:
            lay = {} if layers is not None else None
            rows, t = run_query(self.ctx, lambda: self.conversion(fn), lay,
                                f"convert.{fn}")
            self.note("convert_p50_s", sum(t.values()))
            got = {int(r["g"]): (int(r["n"]), float(r["s"]), float(r["mx"])) for r in rows}
            ok &= _close(got, self.expected[fn])
            if layers is not None:
                layers[f"convert.{fn}.build_s"] = lay[f"convert.{fn}.build_s"]
                layers[f"convert.{fn}.exec_s"] = lay["spark.exec_s"]
        return ok


def _prepare(df):
    """The cutout write's per-partition transform: the partition value
    moves from the rows into the directory name."""
    return df.drop("month")


def _records(con, sql: str) -> dict:
    return {int(g): (int(n), float(s), float(mx))
            for g, n, s, mx in con.execute(sql).fetchall()}


def _close(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    for g, (n, s, mx) in want.items():
        gn, gs, gmx = got[g]
        if gn != n or not math.isclose(gs, s, rel_tol=CONVERT_RTOL, abs_tol=1e-9) \
                or not math.isclose(gmx, mx, rel_tol=CONVERT_RTOL, abs_tol=1e-12):
            return False
    return True


# ---------------------------------------------------------------------------
# cutout_zonal
# ---------------------------------------------------------------------------

class CutoutZonal(Workload):
    """The geo pipeline in one workload: set-up writes the cutout
    (killed and resumed) and builds the hex zone cover; a request runs
    the three conversions over the cutout, then the hex zonal mean over
    the documents table.  Sharing one session saves a JVM start per
    run against two separate workloads."""

    name = "cutout_zonal"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = (CutoutPrepare(ctx), ZonalHex(ctx))
        for p in self.parts:
            p.layers, p.detail, p.checks = self.layers, self.detail, self.checks

    def inputs(self, rep: int) -> None:
        for p in self.parts:
            p.inputs(rep)

    def build(self) -> None:
        for p in self.parts:
            p.build()

    def oracle(self) -> None:
        for p in self.parts:
            p.oracle()

    def request(self, i: int, layers: dict | None) -> bool:
        return all([p.request(i, layers) for p in self.parts])


WORKLOADS = {w.name: w for w in (CutoutZonal, AnnBatch)}
