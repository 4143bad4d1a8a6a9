"""KG-construction layer: determinism, span-sequence invariant, mention
detection against a regex mirror, LSH+CC canonicalization, checkpoint
resume."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from kgforge.kg.components import connected_components
from kgforge.kg.mentions import detect_mentions
from kgforge.kg.pipeline import build_kg, span_sequence_check
from kgforge.kg.synth import explode_spans, make_spans, synth_docs
from kgforge.kg.vocab import EID_TO_ENTITY, SURFACE_TO_EID

N_DOCS = 300


@pytest.fixture(scope="module")
def docs(spark):
    return synth_docs(spark, N_DOCS, seed=42).persist()


def test_generator_deterministic_across_parallelism(spark):
    """Same (seed, doc_id) → same spans regardless of partition count — the
    property that makes N vs 4N scaling runs comparable."""
    a = synth_docs(spark, 100, seed=42, num_partitions=2).collect()
    b = synth_docs(spark, 100, seed=42, num_partitions=8).collect()
    da = {r["doc_id"]: r["spans"] for r in a}
    db = {r["doc_id"]: r["spans"] for r in b}
    assert da == db


def test_make_spans_pure_function():
    assert make_spans(42, 7) == make_spans(42, 7)
    assert make_spans(42, 7) != make_spans(42, 8)
    # the default span stream is pinned: every corpus and benchmark input
    # is derived from it
    stream = json.dumps([make_spans(42, i) for i in range(200)], sort_keys=True)
    assert hashlib.sha256(stream.encode()).hexdigest()[:16] == "bc8ba25919225ebb"


def test_span_sequence_invariant(docs):
    assert span_sequence_check(docs) == 0


def test_offsets_monotone(docs):
    spans = explode_spans(docs)
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("span_idx")
    bad = spans.withColumn("prev", F.lag("offset").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("offset") <= F.col("prev"))
    )
    assert bad.count() == 0


def _trigrams(s: str) -> set:
    s = "^" + s.lower() + "$"
    return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}


def _mirror_links(mention_rows, catalog_rows) -> list[tuple]:
    """Brute-force linking: per mention, the Python max over the catalog rows
    with ``norm == surface.lower()`` of (score, eid, etype, canonical)."""
    out = []
    for doc_id, span_idx, start, surface in mention_rows:
        cands = []
        for norm, eid, canonical, etype in catalog_rows:
            if norm == surface.lower():
                a, b = _trigrams(surface), _trigrams(canonical)
                inter = len(a & b)
                cands.append((inter / (len(a) + len(b) - inter), eid, etype, canonical))
        if cands:
            score, eid, etype, canonical = max(cands)
            out.append((doc_id, span_idx, start, surface, eid, etype, canonical, score))
    return sorted(out)


def _assert_links_match_mirror(mentions, catalog_rows, cands=None):
    from kgforge.kg.linking import link_mentions

    key = ["doc_id", "span_idx", "start", "surface"]
    got = sorted(
        tuple(r) for r in link_mentions(mentions, cands=cands).select(
            *key, "eid", "etype", "canonical", "score").collect()
    )
    want = _mirror_links(
        [tuple(r) for r in mentions.select(*key).collect()], catalog_rows)
    assert got == want and len(want) > 0


def test_link_mentions_matches_mirror(docs):
    from kgforge.kg.vocab import ENTITIES

    mentions = detect_mentions(explode_spans(docs)).persist()
    catalog_rows = [
        (v.lower(), e.eid, e.canonical, e.etype)
        for e in ENTITIES for v in e.variants
    ]
    _assert_links_match_mirror(mentions, catalog_rows)


def test_link_mentions_mirror_mixed_case_ties(spark):
    """Caller catalog: mixed-case surfaces, one ``norm`` mapping to several
    eids with tied scores (the winner is the max eid, then etype), and a
    non-lowercase ``norm`` no mention can reach."""
    from kgforge.kg.linking import CATALOG_SCHEMA

    catalog_rows = [
        ("acme corp", "e1", "Acme Corp", "Org"),
        ("acme corp", "e2", "ACME CORP", "Org"),
        ("acme corp", "e2", "acme corp", "Company"),
        ("acme corp", "e0", "Acme Corporation", "Org"),
        ("beta", "e3", "Beta", "Place"),
        ("beta", "e4", "Betamax", "Thing"),
        ("Gamma", "e5", "Gamma", "Thing"),
    ]
    docs = spark.createDataFrame(
        [("d1", [("text", "Acme Corp met ACME CORP and acme corp", "", 0),
                 ("text", "near BETA, Gamma and beta", "", 40)]),
         ("d2", [("text", "aCmE cOrP or Beta", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    mentions = detect_mentions(
        explode_spans(docs), vocab=["Acme Corp", "Beta", "Gamma"])
    cands = spark.createDataFrame(catalog_rows, CATALOG_SCHEMA)
    _assert_links_match_mirror(mentions, catalog_rows, cands=cands)


_SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _re_mirror_mentions(span_rows, vocab, case_insensitive) -> set:
    """Brute-force detection: Python ``re.finditer`` over the escaped,
    longest-first alternation of ``vocab``, per text span."""
    import re

    rx = re.compile(
        "|".join(re.escape(v) for v in sorted(vocab, key=len, reverse=True)),
        re.IGNORECASE if case_insensitive else 0,
    )
    return {
        (r["doc_id"], r["span_idx"], r["offset"], m.group(0), m.start())
        for r in span_rows if r["kind"] == "text"
        for m in rx.finditer(r["text"])
    }


def test_detect_mentions_matches_re_mirror(spark, docs):
    """``detect_mentions`` equals a ``re.finditer`` mirror on the 300-doc
    fixture, on hand-made multi-span docs (non-zero offsets, a media span,
    the ``Vienna`` / ``Vienna Austria`` prefix pair, the ``A. Muller``
    metacharacter surface) and with a ``vocab=`` override and
    ``case_insensitive=False`` over pre-lowered text.

    The alternation has no word boundary (``Alpine Analytics AG`` matches
    the start of "agreement"); that defect is recorded in ROADMAP's open
    items and is not fixed here, so the mirror shares it."""
    from kgforge.kg.vocab import ALL_SURFACES

    key = ["doc_id", "span_idx", "offset", "surface", "start"]

    def check(d, vocab=None, case_insensitive=True):
        spans = explode_spans(d)
        got = {
            tuple(r) for r in detect_mentions(
                spans, vocab=vocab, case_insensitive=case_insensitive,
            ).select(*key).collect()
        }
        want = _re_mirror_mentions(
            spans.collect(), vocab or ALL_SURFACES, case_insensitive)
        assert got == want and want, (
            f"only-got={sorted(got - want)[:5]} only-want={sorted(want - got)[:5]}")
        return got

    check(docs)

    hand = spark.createDataFrame(
        [("d1", [("text", "Vienna Austria and vienna, then VIENNA AUSTRIA", "", 0),
                 ("image", "Vienna", "img/1.png", 48),
                 ("text", "A. Muller met AX Muller in Wien", "", 60)]),
         ("d2", [("text", "no entity here", "", 0),
                 ("text", "a. muller visited Vienna", "", 15)])],
        _SPANS_SCHEMA,
    )
    got = check(hand)
    assert ("d1", 0, 0, "Vienna Austria", 0) in got
    assert ("d1", 2, 60, "A. Muller", 0) in got
    assert ("d1", 1) not in {r[:2] for r in got}  # the image span

    # the oracle callers' mode: pre-lowered text, case folding off
    vocab = ["acme", "acme corp", "x.y"]
    raw = spark.createDataFrame(
        [("d1", [("text", "acme corp bought acme and x.y, not xzy", "", 0)]),
         ("d2", [("text", "ACME CORP is matched only lowered; x.y", "", 7)])],
        _SPANS_SCHEMA,
    )
    lowered = raw.select("doc_id", F.transform("spans", lambda x: x.withField(
        "text", F.lower(x["text"]))).alias("spans"))
    assert ("d2", 0, 7, "acme corp", 0) in check(
        lowered, vocab, case_insensitive=False)
    assert not any(r[0] == "d2" and r[3] != "x.y"
                   for r in check(raw, vocab, case_insensitive=False))


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], schema="a string, b string"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_build_kg_links_hot_entities(spark, docs):
    triples, metrics = build_kg(docs)
    triples = triples.persist()
    n = triples.count()
    assert n > 0 and metrics["n_mentions"] > 0
    assert metrics["canon_path"] == "driver" and metrics["n_surfaces"] > 0

    # hot entities must dominate mention counts (skew by construction)
    counts = {
        r["subj"].rsplit("/", 1)[-1]: int(r["obj_value"])
        for r in triples.filter(F.col("pred").endswith("mentionCount")).collect()
    }
    hot = sum(counts.get(e, 0) for e in ("p001", "l001", "o001"))
    assert hot > 0.5 * sum(counts.values())

    # every detected surface maps to its vocab entity
    surf = triples.filter(F.col("pred").endswith("surfaceForm")).collect()
    for r in surf:
        eid = r["subj"].rsplit("/", 1)[-1]
        assert SURFACE_TO_EID[r["obj_value"].lower()] == eid

    # near-duplicate surface clustering found at least umlaut/ascii variants
    ndup = triples.filter(F.col("pred").endswith("nearDuplicateOf")).count()
    assert ndup > 0


def test_checkpoint_resume(spark, tmp_path, docs):
    from kgforge.kg.io import last_snapshot, resume_or_run

    path = str(tmp_path / "graph")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        t, _ = build_kg(docs)
        return t

    df1, resumed1 = resume_or_run(spark, path, "kg", "fp1", build)
    assert not resumed1 and calls["n"] == 1
    n1 = df1.count()
    df2, resumed2 = resume_or_run(spark, path, "kg", "fp1", build)
    assert resumed2 and calls["n"] == 1  # skipped — same fingerprint
    assert df2.count() == n1
    snap = last_snapshot(path)
    assert snap["rows"] == n1 and snap["stage"] == "kg"
    df3, resumed3 = resume_or_run(spark, path, "kg", "fp2", build)
    assert not resumed3 and calls["n"] == 2  # input changed → rebuild


# Spark jobs of build_kg → write_graph on the 300-doc fixture with the test
# session's settings (local[4], four shuffle partitions, AQE on)
KG_BUILD_WRITE_JOB_BUDGET = 17


def test_build_write_job_budget(spark, docs, tmp_path):
    """The triple DAG executes once per write_graph: the row total rides
    the write as an observation, not a second pass over the triples."""
    from kgforge.kg.io import write_graph

    docs.count()
    sc = spark.sparkContext
    group = "kg-build-write-budget"
    sc.setJobGroup(group, "build_kg -> write_graph")
    try:
        triples, _ = build_kg(docs, collect_metrics=False)
        snap = write_graph(triples, str(tmp_path / "graph"), stage="kg",
                           fingerprint="budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert snap["rows"] > 0
    assert jobs <= KG_BUILD_WRITE_JOB_BUDGET, jobs


def test_kg_to_anonymization_end_to_end(spark, docs, tmp_path):
    """The north-star composition: interleaved docs → KG triples → graph
    write with snapshot → read back → the reference's anonymization
    semantics applied to the entity table (mask canonical names, generalize
    mention counts) → k-anonymity KPI."""
    from kgforge.anonymize.engine import anonymize_triples
    from kgforge.config import config_from_dict
    from kgforge.kg.io import last_snapshot, write_graph
    from kgforge.kg.vocab import KG
    from kgforge.triples import RDF_TYPE

    triples, _ = build_kg(docs)
    path = str(tmp_path / "graph")
    snap = write_graph(triples, path, stage="kg", fingerprint="t")
    assert snap["rows"] == triples.count() and last_snapshot(path)["stage"] == "kg"
    stored = spark.read.parquet(path)
    # per-pred lineage: one {"pred", "rows"} entry per written partition
    assert all(set(p) == {"pred", "rows"} for p in snap["partitions"])
    assert sum(p["rows"] for p in snap["partitions"]) == snap["rows"]
    assert {(p["pred"], p["rows"]) for p in snap["partitions"]} == {
        (r["pred"], r["count"]) for r in stored.groupBy("pred").count().collect()
    }

    cfg = config_from_dict(
        {
            KG + "Person": {
                KG + "canonicalName": ("string", "masking"),
                KG + "mentionCount": ("integer", "generalization"),
            }
        }
    )
    out, report = anonymize_triples(stored, cfg, random_seed=1234)

    persons = {
        r["subj"]
        for r in stored.filter(
            (F.col("pred") == RDF_TYPE) & (F.col("obj_value") == KG + "Person")
        ).collect()
    }
    assert persons

    masked = out.filter(F.col("pred") == KG + "canonicalName_masked")
    masked_rows = masked.collect()
    assert {r["subj"] for r in masked_rows} == persons
    assert all(r["obj_value"] == "*****" for r in masked_rows)
    # originals removed (use_adjusted_attributes default keeps suffixed preds)
    assert (
        out.filter(
            (F.col("pred") == KG + "canonicalName")
            & F.col("subj").isin(list(persons))
        ).count()
        == 0
    )
    gen = out.filter(F.col("pred") == KG + "mentionCount_generalized")
    assert {r["subj"] for r in gen.collect()} == persons
    assert report.k_anonymity and all(k >= 1 for k in report.k_anonymity.values())
    assert KG + "Person" in report.k_anonymity
    # no randomized attribute: k is the smallest generalization group
    assert report.k_mode == {KG + "Person": "groups"}


@pytest.mark.slow
def test_canonicalization_paths_agree(spark, docs, monkeypatch):
    """Driver union-find (small-vocab fast path) and the distributed
    MinHash-LSH + connected-components path produce the same surface
    clusters on the synthetic vocabulary (96-lane banding: ≥0.998 candidate
    recall at the 0.55 threshold, then exact-Jaccard verify)."""
    from kgforge.kg import pipeline

    a, ma = build_kg(docs)
    monkeypatch.setattr(pipeline, "SMALL_CANON_THRESHOLD", 0)
    b, mb = build_kg(docs)
    assert (ma["canon_path"], mb["canon_path"]) == ("driver", "lsh")
    assert ma["n_surfaces"] == mb["n_surfaces"] > 0
    key = lambda t: {(r["subj"], r["obj_value"]) for r in
                     t.filter(F.col("pred").endswith("nearDuplicateOf")).collect()}
    assert key(a) == key(b) and len(key(a)) > 0


def test_update_kg_equals_batch_rebuild(spark):
    """Incremental maintenance is EXACTLY a batch rebuild: fold a second
    document batch into the first batch's graph and compare the full triple
    set against build_kg over the union corpus — value equality, including
    the recomputed global nearDuplicateOf family and the summed
    mentionCounts."""
    from pyspark.sql import functions as F

    from kgforge.kg.pipeline import build_kg, update_kg
    from kgforge.kg.synth import synth_docs

    docs = synth_docs(spark, 300).persist()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    d1 = docs.filter(part != 0)
    d2 = docs.filter(part == 0)

    full, _ = build_kg(docs, collect_metrics=False)
    t1, _ = build_kg(d1, collect_metrics=False)
    inc, _ = update_kg(t1, d2)

    want = {tuple(r) for r in full.collect()}
    got = {tuple(r) for r in inc.collect()}
    assert len(want) > 0
    assert got == want, (
        f"missing={list(want - got)[:3]} extra={list(got - want)[:3]}"
    )
    docs.unpersist()


def test_update_kg_relabels_bridge_merge(spark):
    """update_kg labels clusters exactly as a rebuild would: pure growth
    keeps every label, and a bridge surface that connects two old clusters
    merges them under the fresh min-surface label (the bridge itself)."""
    from pyspark.sql import functions as F

    from kgforge.kg.pipeline import KG, _py_shingles, build_kg, update_kg

    def jac(a, b):
        sa, sb = _py_shingles(a), _py_shingles(b)
        return len(sa & sb) / len(sa | sb)

    c1 = ["bbbb-cccc", "bbbb-cccd"]
    c2 = ["dddd-eeee", "dddd-eeef"]
    bridge = "a-bbbb-cccc-dddd-eeee"  # lexicographically BELOW all old labels
    thr = 0.25
    assert jac(*c1) >= thr and jac(*c2) >= thr
    assert max(jac(a, b) for a in c1 for b in c2) < thr
    assert jac(bridge, c1[0]) >= thr and jac(bridge, c2[0]) >= thr
    assert bridge < min(c1 + c2)

    surfaces = c1 + c2 + [bridge]
    catalog = spark.createDataFrame(
        [(s, f"e{i}", s, "Thing") for i, s in enumerate(surfaces)],
        "norm string, eid string, canonical string, etype string",
    )

    def mk_docs(rows):
        return spark.createDataFrame(
            [(d, [("text", t, "", 0)]) for d, t in rows],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    kw = dict(
        mention_vocab=surfaces, mention_case_insensitive=False,
        catalog=catalog,
    )
    old_docs = mk_docs([(f"d{i}", f"x {s} y") for i, s in enumerate(c1 + c2)])
    t1, _ = build_kg(old_docs, near_dup_threshold=thr, collect_metrics=False,
                     **kw)

    nd = KG + "nearDuplicateOf"
    pref = KG + "surface/"

    def labels(tr):
        return {
            r["subj"][len(pref):]: r["obj_value"][len(pref):]
            for r in tr.filter(F.col("pred") == nd).collect()
        }

    assert labels(t1) == {"bbbb-cccd": "bbbb-cccc", "dddd-eeef": "dddd-eeee"}

    # pure growth (re-mention of an existing surface): labels unchanged
    grown, _ = update_kg(
        t1, mk_docs([("d10", "z bbbb-cccd w")]), near_dup_threshold=thr, **kw,
    )
    assert labels(grown) == labels(t1)

    # merge: the bridge connects both old clusters, which relabel to the
    # fresh min surface; every surface lands in the one merged cluster
    merged, _ = update_kg(
        t1, mk_docs([("d11", f"z {bridge} w")]), near_dup_threshold=thr, **kw,
    )
    lab = labels(merged)
    assert set(lab.values()) == {bridge}
    assert set(lab) == set(c1 + c2)
