"""Multinomial naive-Bayes text scoring — the classic fastText-free
quality/domain classifier used in corpus curation (e.g. "score every page
against a wiki-vs-spam model" filters).

Training and scoring are both expressed as DataFrame aggregations over the
token table: add-one-smoothed per-label token conditionals

    p(tok | label) = (c(label, tok) + 1) / (t(label) + V)

and document scores

    score(doc, label) = ln p(label) + Σ_tok n(doc, tok) · ln p(tok | label)

Scale shape: the model is two map-side-combinable groupBys (per-label token
counts, per-label totals) whose size is bounded by |vocab|·|labels| — it
joins back by token, and the per-doc score is ONE aggregation over
doc-token rows replicated across the (few) labels via an explicit broadcast
cross join.  Everything stays JVM-side; no Python UDFs.  Scores are rounded
to 6 decimals (ln differs in the last ulp across engines; sums here are
hundreds of terms of magnitude ~5, far inside the rounding guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def naive_bayes_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    pattern: str = "[a-z]+",
) -> DataFrame:
    """Self-train a multinomial NB model on the labeled corpus and score
    every document against every label.

    Output: ``(id, label, score, is_pred)`` — one row per document per
    label; ``is_pred`` marks the argmax by (rounded score DESC, label ASC),
    so the winner is deterministic even on exact ties.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("doc_label"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(pattern), F.lit(0)
            )
        ).alias("tok"),
    )
    doc_toks = toks.groupBy("id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    model = toks.groupBy("doc_label", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).withColumnRenamed("doc_label", "label")
    totals = toks.groupBy("doc_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    ).withColumnRenamed("doc_label", "label")
    priors = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    scalars = toks.agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    ).crossJoin(docs.agg(F.count(F.lit(1)).cast("bigint").alias("nn")))

    labels = F.broadcast(
        priors.join(totals, "label").crossJoin(F.broadcast(scalars))
    )
    pairs = doc_toks.crossJoin(labels)
    joined = pairs.join(model, ["label", "tok"], "left").withColumn(
        "_c", F.coalesce(F.col("c"), F.lit(0))
    )
    term = F.col("cnt") * F.log(
        (F.col("_c") + 1).cast("double") / (F.col("t") + F.col("v"))
    )
    prior_term = F.log(F.col("nd").cast("double") / F.col("nn"))
    scored = joined.groupBy("id", "label").agg(
        F.round(F.sum(term) + F.first(prior_term), 6).alias("score")
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.col("label"))
    return scored.select(
        "id", "label", "score", (F.row_number().over(w) == 1).alias("is_pred")
    )


def knn_classify(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """k-nearest-neighbor label prediction over an embedding column:
    cosine top-k from the labeled ``train`` set, then a majority vote with
    the deterministic (votes DESC, label ASC) tie-break.

    Output: one row per test row — ``(id, pred_label, votes)``.

    Scale: this is the BRUTE-FORCE baseline (|test|·|train| fold-dot
    pairs, the same contract as ``similarity.brute_force_topk``) — at
    corpus scale route candidate generation through ``ivf_topk`` /
    LSH buckets and feed the surviving pairs to the same vote.  The vote
    itself is a map-side-combinable groupBy + one per-id window."""
    from kgforge.datapipe.similarity import _dot, _norm

    if k < 1:
        raise ValueError("k must be >= 1")
    tr = train.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).cast("array<double>").alias("bv"),
        F.col(label_col).alias("lab"),
    )
    te = test.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).cast("array<double>").alias("av"),
    )
    pairs = te.crossJoin(tr).select(
        "a",
        "b",
        "lab",
        (_dot(F.col("av"), F.col("bv")) / (_norm("av") * _norm("bv"))).alias(
            "_cos"
        ),
    )
    w = Window.partitionBy("a").orderBy(F.desc("_cos"), F.asc("b"))
    top = pairs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    votes = top.groupBy("a", "lab").agg(
        F.count(F.lit(1)).cast("bigint").alias("votes")
    )
    wv = Window.partitionBy("a").orderBy(F.desc("votes"), F.asc("lab"))
    return (
        votes.withColumn("_vr", F.row_number().over(wv))
        .filter(F.col("_vr") == 1)
        .select(F.col("a").alias("id"), F.col("lab").alias("pred_label"), "votes")
    )


def classifier_eval(
    df: DataFrame, truth_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision/recall/F1 plus global accuracy and macro-F1 for
    a (truth, prediction) table — the evaluation mirror of
    ``cluster_pairwise_eval`` for supervised operators (naive Bayes, k-NN,
    label spreading).

    Output: one row per class appearing in truth OR prediction —
    ``(label, n_true, n_pred, tp, precision, recall, f1, accuracy,
    macro_f1)`` (the last two are global, repeated per row via a
    broadcast one-row join; precision/recall NULL when their denominator
    is 0, and such classes contribute 0 to macro-F1, the sklearn
    convention).

    Scale: one groupBy per marginal plus one on the diagonal — bounded by
    the label vocabulary; no joins wider than the class list."""
    d = df.select(
        F.col(truth_col).alias("_t"), F.col(pred_col).alias("_p")
    )
    nt = d.groupBy(F.col("_t").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    np_ = d.groupBy(F.col("_p").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    tp = (
        d.filter(F.col("_t") == F.col("_p"))
        .groupBy(F.col("_t").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    per = (
        nt.join(np_, "label", "full_outer")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    prec = F.col("tp").cast("double") / F.col("n_pred")
    rec = F.col("tp").cast("double") / F.col("n_true")
    f1 = F.when(
        (F.col("n_pred") > 0) & (F.col("n_true") > 0) & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    ).otherwise(F.lit(0.0))
    scored = per.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        F.when(F.col("n_pred") > 0, F.round(prec, 6)).alias("precision"),
        F.when(F.col("n_true") > 0, F.round(rec, 6)).alias("recall"),
        F.round(f1, 6).alias("f1"),
        f1.alias("_f1raw"),
    )
    glob = scored.agg(
        F.round(
            F.sum("tp").cast("double") / F.sum("n_true"), 6
        ).alias("accuracy"),
        F.round(F.sum("_f1raw") / F.count(F.lit(1)), 6).alias("macro_f1"),
    )
    return scored.drop("_f1raw").crossJoin(F.broadcast(glob))


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Brier score for a probabilistic classifier:
    does predicted probability p actually mean "right p of the time"?

    Probabilities are fixed-pointed to micro-units (``round(p·10⁶)``) so
    bin assignment is INTEGER arithmetic (``least(p_mu·bins div 10⁶,
    bins−1)`` — no float-floor boundary anywhere) and the per-bin sums and
    the global Brier sum ``Σ (p_mu − y·10⁶)²`` are exact BIGINTs
    (int64-safe to ~9·10⁶ rows per partition-free total at 10¹² per-row
    mass — switch the Brier sum to decimal(38,0) beyond ~10⁹ rows).

    Output: one row per non-empty bin ``(bin, n, mean_pred, frac_pos,
    gap, brier)`` — gap = |frac_pos − mean_pred| is the per-bin
    calibration error, brier the global score repeated per row
    (classifier_eval's broadcast-one-row convention).

    Scale: one combinable groupBy on the bin id (≤ bins rows out)."""
    p_mu = F.round(F.col(prob_col) * 1000000, 0).cast("bigint")
    y = F.when(F.col(label_col).cast("boolean"), 1).otherwise(0).cast("bigint")
    d = (
        df.filter(F.col(prob_col).isNotNull())
        .select(p_mu.alias("_p"), y.alias("_y"))
        .select(
            F.least(
                F.expr(f"(_p * {int(bins)}) div 1000000"),
                F.lit(bins - 1).cast("bigint"),
            ).alias("bin"),
            "_p",
            "_y",
        )
    )
    per = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_p").cast("bigint").alias("_sp"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(
            (F.col("_p") - F.col("_y") * 1000000)
            * (F.col("_p") - F.col("_y") * 1000000)
        ).cast("bigint").alias("_sq"),
    )
    glob = per.agg(
        F.round(
            F.sum("_sq").cast("double") / F.sum("n") / F.lit(1.0e12), 6
        ).alias("brier")
    )
    mean_pred = F.col("_sp").cast("double") / F.col("n") / F.lit(1.0e6)
    frac_pos = F.col("n_pos").cast("double") / F.col("n")
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(mean_pred, 6).alias("mean_pred"),
            F.round(frac_pos, 6).alias("frac_pos"),
            F.round(F.abs(frac_pos - mean_pred), 6).alias("gap"),
            "brier",
        )
    )


def roc_auc(
    df: DataFrame, label_col: str, score_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group ROC-AUC of a score column against a binary label — the
    standard quality gate for every scorer in this package (naive Bayes,
    k-NN, logistic) and for external quality models whose scores arrive as
    a column.

    Uses the tie-corrected Mann-Whitney rank identity with an ALL-INTEGER
    numerator: with 2·avg_rank = 2·min_rank + ties − 1 (exact int64),

        AUC = (Σ_pos 2·avg_rank − n_pos(n_pos+1)) / (2 · n_pos · n_neg)

    so the only floating point is the single final division, rounded to 6.
    NULL when a group lacks positives or negatives.  Headroom: Σ 2·rank ≤
    2n² per group must fit int64 (n per group < ~2·10⁹ — far past any
    real evaluation slice).

    Scale shape: one shuffle on ``group_cols`` — rank() and the peer count
    share the SAME window partition (the tie count is a RANGE CURRENT ROW
    frame over the rank ordering, not a second (group, score) partition),
    then a map-side-combinable groupBy.  Groups are evaluation slices
    (model × segment), so the per-group window is bounded; a single global
    AUC over an unbounded corpus should pass a constant group column and
    accept the one-partition sort, or pre-aggregate scores to a bounded
    grid first."""
    d = df.select(
        *group_cols,
        F.col(label_col).cast("bigint").alias("_y"),
        F.col(score_col).cast("double").alias("_s"),
    )
    w = Window.partitionBy(*group_cols).orderBy("_s")
    peers = (
        F.count(F.lit(1))
        .over(w.rangeBetween(Window.currentRow, Window.currentRow))
        .cast("bigint")
    )
    d2 = d.withColumn(
        "_r2", F.rank().over(w).cast("bigint") * 2 + peers - 1
    )
    g = d2.groupBy(*group_cols).agg(
        F.sum("_y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("_y")).cast("bigint").alias("n_neg"),
        F.sum(F.col("_y") * F.col("_r2")).cast("bigint").alias("_pr2"),
    )
    auc = (
        (F.col("_pr2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1)))
        .cast("double")
        / (F.lit(2.0) * (F.col("n_pos") * F.col("n_neg")).cast("double"))
    )
    return g.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.round(auc, 6)
        ).alias("auc"),
    )


def logistic_fit_numpy(x, y, iters: int = 6, ridge: float = 1e-6):
    """Deterministic logistic-regression fit by IRLS (Newton) on the
    driver — the train-small half of the train-small/apply-distributed
    split used by the IVF index and PCA (`clustering.pca_fit_numpy`): at
    100 TB the fit runs on a bounded, deterministically-ordered sample
    while :func:`logistic_predict` scores the corpus in whole-stage
    codegen.

    ``x`` is (n, d) WITHOUT an intercept column (one is prepended);
    ``y`` is 0/1.  A FIXED iteration count (no convergence break) plus the
    ridge term keeps the result a pure function of the input — same rows
    in the same order → bit-identical coefficients, which is what lets an
    external SQL oracle inline them as literals.  Callers must sort the
    training rows by a stable key before calling."""
    import numpy as np

    xm = np.column_stack(
        [np.ones(len(x)), np.asarray(x, dtype=np.float64)]
    )
    yv = np.asarray(y, dtype=np.float64)
    beta = np.zeros(xm.shape[1])
    eye = np.eye(xm.shape[1])
    for _ in range(iters):
        eta = xm @ beta
        p = 1.0 / (1.0 + np.exp(-eta))
        w = np.maximum(p * (1.0 - p), 1e-9)
        z = eta + (yv - p) / w
        xw = xm * w[:, None]
        beta = np.linalg.solve(xw.T @ xm + ridge * eye, xw.T @ z)
    return [float(v) for v in beta]


def logistic_predict(
    df: DataFrame, feature_cols: list[str], beta, out: str = "p"
) -> DataFrame:
    """Distributed scoring with inlined coefficients: one sigmoid per row,
    pure whole-stage codegen (no Python in the row path).  The linear term
    is a LEFT fold in ``feature_cols`` order — ((β₀ + β₁x₁) + β₂x₂) … —
    so an oracle folding the same literals in the same order agrees
    bit-for-bit before the 6-decimal round (exp can differ in the last
    ulp across libm implementations; probabilities are O(1), so the round
    absorbs it)."""
    eta = F.lit(float(beta[0]))
    for b, c in zip(beta[1:], feature_cols):
        eta = eta + F.lit(float(b)) * F.col(c).cast("double")
    return df.withColumn(
        out, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)), 6)
    )


def isotonic_calibrate(
    df: DataFrame, group_cols: list[str], bin_col: str, label_col: str
) -> DataFrame:
    """Per-group isotonic regression of a binary label on a binned score —
    the monotone calibration step (Zadrozny & Elkan 2002) that turns a
    ranking score into a probability without the parametric assumptions of
    Platt scaling.

    Uses the minimax identity for the (squared-loss, count-weighted)
    isotonic fit over the B bin means:

        ŷᵢ = max_{j ≤ i} min_{k ≥ i} mean(y over bins j..k)

    computed fully declaratively: inclusive/exclusive prefix sums give any
    segment mean as a single exact-int64 ratio, a bounded pair join
    enumerates the B(B+1)/2 segments, a descending-window suffix-min
    produces t(j,i) = min_{k≥i} m(j,k), and one groupBy-max collapses j.
    Segment means are IEEE doubles of exact int64 pairs — correctly-rounded
    division, so both engines compute bit-identical values and min/max
    agree exactly; the output is rounded to 6.

    Output: one row per (group, bin) — ``(group_cols…, bin, n, pos,
    p_iso)`` with p_iso nondecreasing in ``bin`` within each group.

    Scale shape: bins are an evaluation grid (caller quantizes the score
    to B ≲ a few hundred buckets FIRST — calibration never needs more),
    so the pair join is B²-bounded per group and every stage shuffles on
    the group key only.  The raw corpus is touched once, by the initial
    map-side-combinable groupBy."""
    b = df.groupBy(*group_cols, F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(label_col).cast("bigint")).cast("bigint").alias("pos"),
    )
    w = Window.partitionBy(*group_cols).orderBy("bin")
    b = (
        b.withColumn("_i", F.row_number().over(w).cast("bigint"))
        .withColumn("_cn", F.sum("n").over(w).cast("bigint"))
        .withColumn("_cs", F.sum("pos").over(w).cast("bigint"))
    )
    left = b.select(
        *group_cols,
        F.col("_i").alias("_j"),
        (F.col("_cn") - F.col("n")).alias("_n0"),
        (F.col("_cs") - F.col("pos")).alias("_s0"),
    )
    right = b.select(
        *group_cols,
        F.col("_i").alias("_k"),
        F.col("_cn").alias("_n1"),
        F.col("_cs").alias("_s1"),
    )
    m = (
        left.join(right, group_cols)
        .filter(F.col("_j") <= F.col("_k"))
        .withColumn(
            "_m",
            (F.col("_s1") - F.col("_s0")).cast("double")
            / (F.col("_n1") - F.col("_n0")).cast("double"),
        )
    )
    # t(j, i) = min over k >= i of m(j, k): suffix-min along k within (group, j)
    wj = (
        Window.partitionBy(*group_cols, "_j")
        .orderBy(F.col("_k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = m.withColumn("_t", F.min("_m").over(wj)).select(
        *group_cols, F.col("_k").alias("_i"), "_j", "_t"
    )
    iso = t.groupBy(*group_cols, "_i").agg(
        F.round(F.max("_t"), 6).alias("p_iso")
    )
    return (
        b.join(iso, [*group_cols, "_i"])
        .select(*group_cols, "bin", "n", "pos", "p_iso")
    )


def gini_splits(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Candidate-split scoring for categorical CART induction (Breiman et
    al. 1984), in EXACT integer arithmetic: every (feature, value)
    equality split of ``df`` scored by the weighted Gini impurity of its
    two sides,

        score_micro = Σ_side 10⁶·(n_s² − Σ_c n_{s,c}²) div n_s

    (n_s² − Σ n_{s,c}² over classes c is n_s²·gini_s; the per-side
    integer division is the only rounding and matches DuckDB ``//`` on
    non-negatives).  Output: (feat, value, n_left, score_micro).

    Scale shape: one melt (map-only), one (feat, value, class) count and
    one class-total count — both map-side combinable; the candidate table
    is bounded by the categorical vocabulary, never by row count."""
    from pyspark.sql import functions as F

    legs = [
        df.select(
            F.lit(c).alias("feat"),
            F.col(c).cast("string").alias("value"),
            F.col(label_col).cast("string").alias("cls"),
        )
        for c in feature_cols
    ]
    melted = legs[0]
    for m in legs[1:]:
        melted = melted.unionByName(m)
    # score arithmetic runs in DECIMAL(38,0): n² terms pass int64 at ~3M
    # rows and the ×10⁶ scaling at ~3M even sooner (hit for real in a 10M-row
    # spot-check) — decimal(38) holds 10³⁰-scale products, i.e. exact to
    # 10¹²-row nodes; DuckDB mirrors with HUGEINT.  The final quotient
    # (≤ 10⁶·n) is cast back to BIGINT.
    dec = "decimal(38,0)"
    left = melted.groupBy("feat", "value", "cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("lc"))
    tot = (
        df.groupBy(F.col(label_col).cast("string").alias("cls"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    node = tot.agg(
        F.sum(F.col("tc").cast(dec)).cast(dec).alias("n_total"),
        F.sum(F.col("tc").cast(dec) * F.col("tc")).cast(dec).alias("sq_total"),
    )
    per_split = (
        left.join(F.broadcast(tot), "cls")
        .groupBy("feat", "value")
        .agg(
            F.sum(F.col("lc").cast(dec)).cast(dec).alias("n_left"),
            F.sum(F.col("lc").cast(dec) * F.col("lc")).cast(dec)
            .alias("sq_left"),
            F.sum(F.col("lc").cast(dec) * F.col("tc")).cast(dec)
            .alias("cross"),
        )
    )
    return per_split.crossJoin(F.broadcast(node)).select(
        "feat", "value",
        F.col("n_left").cast("bigint").alias("n_left"),
        (
            F.expr(
                "CASE WHEN n_left > 0 THEN"
                " (CAST(1000000 AS decimal(38,0)) * (n_left * n_left - sq_left))"
                " div n_left ELSE CAST(0 AS decimal(38,0)) END"
            )
            + F.expr(
                "CASE WHEN n_total - n_left > 0 THEN"
                " (CAST(1000000 AS decimal(38,0)) * ((n_total - n_left) * (n_total - n_left)"
                "   - (sq_total - 2 * cross + sq_left)))"
                " div (n_total - n_left) ELSE CAST(0 AS decimal(38,0)) END"
            )
        ).cast("bigint").alias("score_micro"),
    )


def gini_tree2(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Depth-2 CART over categorical features with exact integer Gini —
    fills the tree-model gap next to naive_bayes/knn/logistic.

    Rows out, one per tree node:
      (node, feat, value, score_micro, n, majority_cls, n_majority)
    ``node`` ∈ {root, L, R, LL, LR, RL, RR}: root/L/R carry the chosen
    split (arg-min score, ties by feat ASC then value ASC — fully
    deterministic); the four depth-2 leaves carry their class decision
    (majority count, ties by class ASC).  Degenerate branches (empty or
    pure) emit leaves with NULL split fields at L/R.

    The chosen splits stay in DataFrames (1-row broadcasts) — no
    ``collect``; at any scale this is two candidate-scoring passes plus
    two bounded joins."""
    from pyspark.sql import functions as F

    def best_of(splits: DataFrame) -> DataFrame:
        return splits.agg(
            F.min(F.struct("score_micro", "feat", "value")).alias("b")
        ).select(
            F.col("b.feat").alias("bfeat"),
            F.col("b.value").alias("bvalue"),
            F.col("b.score_micro").alias("bscore"),
        )

    def node_row(name, best, n_df):
        return (
            best.crossJoin(F.broadcast(n_df))
            .select(
                F.lit(name).alias("node"),
                F.col("bfeat").alias("feat"),
                F.col("bvalue").alias("value"),
                F.col("bscore").cast("bigint").alias("score_micro"),
                F.col("n").cast("bigint").alias("n"),
                F.lit(None).cast("string").alias("majority_cls"),
                F.lit(None).cast("bigint").alias("n_majority"),
            )
        )

    def leaf_row(name, branch_df):
        counts = branch_df.groupBy(
            F.col(label_col).cast("string").alias("cls")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # majority class: max count, ties by class ASC — encode as a
        # max-struct on (c, negated-order) replaced by min over (-c, cls)
        return counts.agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("cls"))).alias("b"),
            F.sum("c").cast("bigint").alias("n"),
        ).select(
            F.lit(name).alias("node"),
            F.lit(None).cast("string").alias("feat"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("bigint").alias("score_micro"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.col("b.cls").alias("majority_cls"),
            (-F.col("b.nc")).cast("bigint").alias("n_majority"),
        )

    best1 = best_of(gini_splits(df, feature_cols, label_col))
    n_root = df.agg(F.count(F.lit(1)).alias("n"))
    out = node_row("root", best1, n_root)

    def match_cond():
        # row matches the broadcast (bfeat, bvalue) split
        return F.coalesce(
            *[
                F.when(
                    F.col("bfeat") == F.lit(c),
                    F.col(c).cast("string") == F.col("bvalue"),
                )
                for c in feature_cols
            ],
            F.lit(False),
        )

    tagged = df.crossJoin(F.broadcast(best1))
    for side in ("L", "R"):
        cond = match_cond()
        branch = tagged.filter(cond if side == "L" else ~cond).drop(
            "bfeat", "bvalue", "bscore"
        )
        best2 = best_of(gini_splits(branch, feature_cols, label_col))
        n_b = branch.agg(F.count(F.lit(1)).alias("n"))
        out = out.unionByName(node_row(side, best2, n_b))
        t2 = branch.crossJoin(F.broadcast(best2))
        cond2 = match_cond()
        for sub, keep in (("L", True), ("R", False)):
            leaf = t2.filter(cond2 if keep else ~cond2).drop(
                "bfeat", "bvalue", "bscore"
            )
            out = out.unionByName(leaf_row(side + sub, leaf))
    return out


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    positive: str,
) -> DataFrame:
    """Weight-of-evidence / information-value profile of a categorical
    feature against a binary outcome (Siddiqi 2006, credit-scorecard
    convention; 0.5 Laplace smoothing):

        WOE(v) = ln( ((n⁺_v + ½)/P) / ((n⁻_v + ½)/N) )
               = ln( (2·n⁺_v + 1)·N / ((2·n⁻_v + 1)·P) )
        IV(v)  = (n⁺_v/P − n⁻_v/N) · WOE(v)

    Output: (value, n_pos, n_neg, woe, iv_term), woe rounded to 6 and
    iv_term to 9 decimals — every input to the floats is an exact int64,
    so both are engine-deterministic after rounding (the repo's proven
    round-after-exact convention).

    Scale shape: one combinable count aggregation over the feature
    vocabulary plus a broadcast of the two scalar totals; nothing scales
    with row count but the first scan."""
    from pyspark.sql import functions as F

    lab = F.col(label_col).cast("string")
    per = df.groupBy(F.col(feature_col).cast("string").alias("value")).agg(
        F.sum(F.when(lab == positive, 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(lab == positive, 0).otherwise(1)).cast("bigint")
        .alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("bigint").alias("p_tot"),
        F.sum("n_neg").cast("bigint").alias("n_tot"),
    )
    woe = F.round(
        F.log(
            ((2 * F.col("n_pos") + 1) * F.col("n_tot")).cast("double")
            / (((2 * F.col("n_neg") + 1) * F.col("p_tot")).cast("double"))
        ),
        6,
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("woe", woe)
        .withColumn(
            "iv_term",
            F.round(
                (
                    (F.col("n_pos") * F.col("n_tot")
                     - F.col("n_neg") * F.col("p_tot")).cast("double")
                    / (F.col("p_tot") * F.col("n_tot")).cast("double")
                )
                * F.col("woe"),
                9,
            ),
        )
        .select("value", "n_pos", "n_neg", "woe", "iv_term")
    )
