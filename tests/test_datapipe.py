"""Datapipe operators: dedup family, similarity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different content about spark pipelines"),
        (5, "spark pipelines process completely different content"),
        (6, "der schnelle braune fuchs springt über den faulen hund"),
    ]
    return spark.createDataFrame(rows, schema="id long, text string")


def test_exact_duplicates(corpus):
    from kgforge.datapipe.dedup import exact_duplicates

    groups = exact_duplicates(corpus, "id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["keep_id"] == 1


def test_minhash_clusters(corpus):
    from kgforge.datapipe.dedup import minhash_duplicate_clusters

    # word-3-gram Jaccard (the document default): docs 1 vs 3 differ in one
    # of nine words → J = 4/10 = 0.4; unrelated docs 4/5 share one gram
    # (J = 1/7) and cross-language doc 6 shares none
    cl = {r["id"]: r["cluster"] for r in
          minhash_duplicate_clusters(corpus, "id", "text", threshold=0.4).collect()}
    assert cl[1] == cl[2] == cl[3]  # exact + near dup share a cluster
    assert cl[4] != cl[1] and cl[6] != cl[1]


def test_minhash_clusters_char_mode(corpus):
    from kgforge.datapipe.dedup import minhash_duplicate_clusters

    # char-3-gram shingles (surface-string mode) keep the old semantics:
    # one-word edits barely move the char-gram Jaccard
    cl = {r["id"]: r["cluster"] for r in
          minhash_duplicate_clusters(corpus, "id", "text", threshold=0.6,
                                     shingle_mode="char").collect()}
    assert cl[1] == cl[2] == cl[3]
    assert cl[4] != cl[1] and cl[6] != cl[1]


def test_simhash_near_pairs(corpus):
    from kgforge.datapipe.dedup import simhash64, simhash_near_pairs

    fp = {r["id"]: r["simhash"] for r in simhash64(corpus, "id", "text").collect()}
    assert fp[1] == fp[2]  # identical text → identical fingerprint

    def ham(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    # near-dup is closer in hamming space than unrelated text (short docs have
    # high simhash variance, so assert ordering rather than a fixed radius)
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])
    pairs = {(r["a"], r["b"]) for r in
             simhash_near_pairs(corpus, "id", "text", max_hamming=6).collect()}
    assert (1, 2) in pairs  # identical docs: hamming 0


def test_ngram_jaccard(corpus):
    from kgforge.datapipe.dedup import ngram_jaccard_pairs

    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(corpus, "id", "text", n=2, threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs


def test_brute_force_vs_ann_recall(spark):
    from kgforge.datapipe.similarity import ann_topk, brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    q = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
    exact = [r["id"] for r in brute_force_topk(emb, "vec_id", "embedding", q, k=10).collect()]
    assert exact[0] == 3  # self is the nearest neighbor

    queries = emb.filter(F.col("vec_id") == 3)
    ann = ann_topk(emb, queries, "vec_id", "embedding", dim, k=10, n_planes=6)
    got = [r["id"] for r in ann.collect()]
    assert 3 in got  # identical vector always lands in the same bucket


def test_multimodal_plumbing(spark):
    from kgforge.datapipe.multimodal import (
        DecoderUnavailable,
        decode_image,
        extract_features,
        sample_frames,
        synth_media_table,
    )
    from kgforge.kg.synth import explode_spans, synth_docs

    spans = explode_spans(synth_docs(spark, 100, seed=42))
    media = synth_media_table(spans).persist()
    assert media.count() > 0
    feats = extract_features(media, dim=16).collect()
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic features
    feats2 = extract_features(media, dim=16).collect()
    assert {r["media_ref"]: r["feature"] for r in feats} == {
        r["media_ref"]: r["feature"] for r in feats2
    }
    frames = sample_frames(media, every_ms=60000)
    vids = media.filter(F.col("kind") == "video").count()
    if vids:
        assert frames.count() >= vids
    with pytest.raises(DecoderUnavailable):
        decode_image(media, real=True)


def test_jsonld_roundtrip(spark):
    from kgforge.ingest import jsonld_to_triple_tuples
    from kgforge.jsonld_out import serialize_jsonld
    from kgforge.triples import triples_df

    tuples = [
        ("http://x/1", "http://x/p", "v", "string", False),
        ("http://x/1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://x/T", "iri", True),
        ("http://x/1", "http://x/q", "3.5", "xsd:double", False),
        ("http://x/2", "http://x/r", "http://x/1", "iri", True),
    ]
    doc = serialize_jsonld(triples_df(spark, tuples), None)
    back = set(jsonld_to_triple_tuples(doc))
    assert back == set(tuples)


def test_ngram_lsh_mode_matches_exact(spark):
    """Banded mode must find the same ≥-threshold pairs as the inverted-index
    exact mode on the real corpus (recall at these thresholds is ~1; any
    banding miss would also show up here)."""
    from kgforge.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["a"], r["b"], round(r["jaccard"], 6))
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["a"], r["b"], round(r["jaccard"], 6))
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, mode="lsh"
        ).collect()
    }
    assert lsh == exact


def test_ngram_lsh_bounds_hot_gram_candidates(spark):
    """One gram shared by EVERY document: the exact inverted index would
    produce n(n-1)/2 candidate pairs from that gram alone; the banded path
    must stay orders of magnitude below that."""
    import random

    from kgforge.datapipe.dedup import _word_grams
    from kgforge.kg.lsh import pairs_from_signatures, pick_bands, signatures_from_shingles
    from pyspark.sql import functions as F

    rng = random.Random(3)
    n = 2000
    rows = [
        (str(i), "common shared gram " + " ".join(
            rng.choice("abcdefghij") for _ in range(12)))
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    d = docs.select(F.col("doc_id").alias("id"), "text")
    grams = _word_grams(d, "text", 3)
    sig = signatures_from_shingles(grams.withColumnRenamed("g", "shingle"), "id", 32)
    cand = pairs_from_signatures(sig, "id", 32, pick_bands(32, 0.5))
    n_cand = cand.count()
    assert n_cand < n * (n - 1) // 20, n_cand  # exact path would be n(n-1)/2


def test_ivf_trained_centroids_beat_seed_on_clustered_data(spark):
    """k-means refinement gate: on clustered embeddings (the case IVF exists
    for) trained centroids must beat the first-N-ids seed centroids on
    recall@5 vs brute force.  (On isotropic random vectors any partition is
    as good as any other — that case proves nothing.)"""
    import random

    from pyspark.sql import functions as F

    from kgforge.datapipe.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids_numpy,
    )

    rng = random.Random(5)
    dim, n_clusters = 32, 20
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    # cluster-ordered ids → the first-16-ids seed covers only ~2 clusters
    i = 0
    for c in centers:
        for _ in range(20):
            rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
            i += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(1000 + j, [x + rng.gauss(0, 0.15) for x in centers[3 + 4 * j]])
             for j in range(5)]
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")

    sample = [v for (i, v) in rows if i % 2 == 0]
    trained = train_centroids_numpy(sample, 16, iters=8)

    def recall(out):
        got: dict = {}
        for r in out.collect():
            got.setdefault(r["qid"], set()).add(r["id"])
        hit = tot = 0
        for qid, qv in qrows:
            truth = {
                r["id"]
                for r in brute_force_topk(corpus, "vec_id", "embedding", qv, 5).collect()
            }
            hit += len(truth & got.get(qid, set()))
            tot += len(truth)
        return hit / tot

    # probe=1 is the discriminating setting: with degenerate seed centroids
    # (all from ~2 clusters) a query's true neighbors scatter across
    # noise-determined cells, while trained centroids keep each cluster in
    # one cell
    r_seed = recall(ivf_topk(corpus, queries, "vec_id", "embedding", k=5,
                             n_centroids=16, n_probe=1))
    r_trained = recall(ivf_topk(corpus, queries, "vec_id", "embedding", k=5,
                                n_probe=1, centroids=trained))
    assert r_trained > r_seed, (r_trained, r_seed)
    assert r_trained >= 0.9, r_trained


def test_ann_multi_probe_lifts_recall_on_clustered_data(spark):
    """Hamming-distance-1 multi-probe gate: near-boundary neighbors missed by
    the single-probe bucket must be recovered (0.2 → ≥0.6 recall@5 on the
    clustered synthetic; isotropic random vectors can't show the effect)."""
    import random

    from kgforge.datapipe.similarity import ann_topk, brute_force_topk

    rng = random.Random(5)
    dim = 32
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    rows = []
    i = 0
    for c in centers:
        for _ in range(20):
            rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
            i += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(1000 + j, [x + rng.gauss(0, 0.15) for x in centers[3 + 4 * j]])
             for j in range(5)]
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")

    def recall(mp):
        out = ann_topk(corpus, queries, "vec_id", "embedding", dim, k=5,
                       n_planes=10, multi_probe=mp)
        got: dict = {}
        for r in out.collect():
            got.setdefault(r["qid"], set()).add(r["id"])
        hit = tot = 0
        for qid, qv in qrows:
            truth = {
                r["id"]
                for r in brute_force_topk(corpus, "vec_id", "embedding", qv, 5).collect()
            }
            hit += len(truth & got.get(qid, set()))
            tot += len(truth)
        return hit / tot

    r1, rp = recall(False), recall(True)
    assert rp > r1 and rp >= 0.6, (r1, rp)


def test_language_id_profiles_multilingual(spark):
    """5-language + und classification on real-language snippets (the en/de
    stopword heuristic alone cannot separate fr/es/it)."""
    from kgforge.datapipe.textstats import language_id_profiles

    samples = [
        ("en", "the cat sat on the mat and it was not alone in the house"),
        ("de", "der hund lief schnell durch die stadt und nicht über die brücke"),
        ("fr", "les enfants jouent dans le jardin avec une balle rouge et ne sont pas fatigués"),
        ("es", "los niños juegan en el jardín con una pelota roja y no están cansados"),
        ("it", "il gatto dorme sulla sedia e non vuole che qualcuno lo svegli per il pranzo"),
        ("und", "xqz kpw vbn mlr tts"),
    ]
    df = spark.createDataFrame(samples, "want string, text string")
    got = {r["id"]: r["lang"]
           for r in language_id_profiles(df, "want", "text").collect()}
    assert got == {w: w for w, _ in samples}


def test_scrub_pii_redacts_and_counts(spark):
    from kgforge.datapipe.scrub import scrub_pii

    rows = [
        ("a", "mail me at jo.doe+x@sub.example.org or call +43 (0)660 123 4567 ok"),
        ("b", "server 192.168.1.77 and iban AT611904300234573201 leaked"),
        ("c", "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df, "id", "text").collect()}
    assert got["a"]["n_email"] == 1 and got["a"]["n_phone"] == 1
    assert "<EMAIL>" in got["a"]["scrubbed"] and "<PHONE>" in got["a"]["scrubbed"]
    assert "jo.doe" not in got["a"]["scrubbed"] and "660" not in got["a"]["scrubbed"]
    assert got["b"]["n_ipv4"] == 1 and got["b"]["n_iban"] == 1
    assert "<IP>" in got["b"]["scrubbed"] and "<IBAN>" in got["b"]["scrubbed"]
    assert got["c"]["scrubbed"] == "nothing sensitive here"
    assert got["c"]["n_email"] == got["c"]["n_phone"] == 0


def test_chunk_documents_boundaries(spark):
    from kgforge.datapipe.scrub import chunk_documents

    toks = [f"w{i}" for i in range(65)]
    rows = [
        ("full", " ".join(toks)),          # 65 tokens → 2 chunks at 64/8
        ("tiny", "one two"),               # < overlap → 1 chunk
        ("empty", "   "),                  # whitespace-only → 0 chunks
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = chunk_documents(df, "id", "text", chunk_tokens=64, overlap=8)
    got = {}
    for r in out.collect():
        got.setdefault(r["id"], []).append(r)
    full = sorted(got["full"], key=lambda r: r["chunk_idx"])
    assert len(full) == 2
    assert full[0]["chunk"].split() == toks[:64] and full[0]["n_tokens"] == 64
    # second chunk starts at stride 56 (8 tokens of overlap with chunk 0)
    assert full[1]["chunk"].split() == toks[56:65] and full[1]["n_tokens"] == 9
    assert len(got["tiny"]) == 1 and got["tiny"][0]["chunk"] == "one two"
    assert "empty" not in got


def test_dedup_keep_best_retention(spark):
    """Near-dup cluster retention: exactly one keeper per cluster, singleton
    docs always kept, keeper = longest member (ties → larger id)."""
    from kgforge.datapipe.dedup import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        ("d1", base),
        ("d2", base + " again"),                      # near-dup of d1, longer
        ("d3", base.replace("quick", "quack")),       # near-dup, same length
        ("d4", "completely different text about spark shuffles and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup_keep_best(df, "doc_id", "text", threshold=0.6).collect()
    by_id = {r["id"]: r for r in out}
    clusters: dict = {}
    for r in out:
        clusters.setdefault(r["cluster"], []).append(r)
    for members in clusters.values():
        assert sum(r["keep"] for r in members) == 1
    dup_cluster = by_id["d1"]["cluster"]
    assert by_id["d2"]["cluster"] == dup_cluster  # clustered together
    assert by_id["d2"]["keep"]                    # longest member wins
    assert not by_id["d1"]["keep"]
    assert by_id["d4"]["keep"]                    # singleton kept


def test_dedup_lines_keeps_first_occurrence_order(spark):
    from kgforge.datapipe.scrub import dedup_lines

    rows = [
        ("a", "nav\nintro text\nnav\nbody text\nfooter\nfooter"),
        ("b", "only one line"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r["id"]: r.asDict() for r in dedup_lines(df, "id", "text").collect()}
    assert got["a"]["cleaned"] == "nav\nintro text\nbody text\nfooter"
    assert got["a"]["n_lines"] == 6 and got["a"]["n_removed"] == 2
    assert got["b"]["cleaned"] == "only one line" and got["b"]["n_removed"] == 0


def test_contamination_check(spark):
    from kgforge.datapipe.dedup import contamination_check

    train = spark.createDataFrame(
        [("t1", "the quick brown fox jumps over the lazy dog today")],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame(
        [
            ("e1", "the quick brown fox jumps over the lazy dog today"),  # full copy
            ("e2", "completely novel words nowhere in training data at all"),
            ("e3", "prefix words then the quick brown fox jumps away"),   # partial
        ],
        "doc_id string, text string",
    )
    got = {r["id"]: r.asDict()
           for r in contamination_check(ev, train, "doc_id", "text",
                                        n=3, threshold=0.5).collect()}
    assert got["e1"]["overlap"] == 1.0 and got["e1"]["contaminated"]
    assert got["e2"]["n_hits"] == 0 and not got["e2"]["contaminated"]
    assert 0 < got["e3"]["overlap"] < 1.0


def test_jsonl_ingest_on_error_modes(spark):
    """Corrupt-line policy for distributed JSONL ingest: a malformed line
    fails the job; the good lines alone ingest."""
    import pytest as _pytest
    from pyspark.errors.exceptions.base import PySparkException

    from kgforge.ingest import jsonld_lines_to_triples

    # absolute-IRI predicate: a bare term like "p" is dropped by the
    # JSON-LD expansion rule (fixture-04 parity), yielding zero triples
    good = '{"@id": "http://x/a", "http://x/p": "v"}'
    bad = '{"@id": broken'
    lines = spark.createDataFrame([(good,), (bad,), (good,)], "value string")

    with _pytest.raises(PySparkException, match="JSONDecodeError"):
        jsonld_lines_to_triples(lines).count()

    ok = spark.createDataFrame([(good,), (good,)], "value string")
    assert jsonld_lines_to_triples(ok).filter("subj = 'http://x/a'").count() == 2


def test_wav_roundtrip_real_decode(spark):
    """synth_wav_payloads writes REAL RIFF/WAVE bytes (stdlib wave encoder);
    decode_wav must parse them back and reproduce hand-computed stats."""
    import io
    import wave as wavemod

    from kgforge.datapipe.multimodal import decode_wav, synth_wav_payloads

    ids = spark.createDataFrame([(0,), (7,), (123,)], "doc_id long")
    wavs = synth_wav_payloads(ids)
    rows = {r["doc_id"]: r for r in wavs.collect()}
    # the payload is a structurally valid WAV the stdlib decoder accepts
    w = wavemod.open(io.BytesIO(bytes(rows[7]["payload"])), "rb")
    assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, 16000)
    assert w.getnframes() == 400 + 7 % 100

    got = {r["doc_id"]: r for r in decode_wav(wavs).collect()}
    for rid in (0, 7, 123):
        n = 400 + rid % 100
        samples = [((rid * 31 + i * 97) % 65536) - 32768 for i in range(n)]
        r = got[rid]
        assert r["n_frames"] == n
        assert r["sample_rate"] == 16000 and r["n_channels"] == 1
        assert r["duration_ms"] == n * 1000 // 16000
        assert r["sum_sq"] == sum(s * s for s in samples)
        assert r["peak"] == max(abs(s) for s in samples)


def test_decode_wav_rejects_unsupported_width(spark):
    import io
    import wave as wavemod

    import pytest as _pytest

    from kgforge.datapipe.multimodal import DecoderUnavailable, decode_wav

    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(bytes([1, 2, 3, 4]))
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                               "doc_id long, payload binary")
    with _pytest.raises(Exception) as ei:
        decode_wav(df).collect()
    assert "DecoderUnavailable" in str(ei.value) or "16-bit" in str(ei.value)


def test_lm_cross_entropy_matches_python_mirror(spark):
    from collections import Counter
    from math import log

    from kgforge.datapipe.textstats import lm_cross_entropy

    docs = [(1, "abcabcab"), (2, "abcxyzzy"), (3, "zz")]  # doc 3: no trigrams
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: r for r in lm_cross_entropy(df, "doc_id", "text").collect()}

    pos = [(i, t[j:j + 3]) for i, t in docs for j in range(max(len(t) - 2, 0))]
    c3 = Counter(tri for _, tri in pos)
    c2 = Counter(tri[:2] for _, tri in pos)
    for i in (1, 2):
        mine = [-log((c3[tri] + 1) / (c2[tri[:2]] + 128)) for j, tri in pos if j == i]
        assert got[i]["n_trigrams"] == len(mine)
        assert abs(got[i]["xent"] - sum(mine) / len(mine)) < 1e-6
    assert 3 not in got  # sub-trigram docs drop out, like the null-drop rule


@pytest.mark.slow
def test_duplicate_spans_hashed_equivalence(spark):
    """hashed=True (8-byte xxhash64 corpus shuffle + exact recount on the
    marked minority) must produce the byte-identical span set as the exact
    mode, including the min_count filter and per-doc span merging."""
    from kgforge.datapipe.dedup import duplicate_spans

    boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-FOR-DAILY-UPDATES!"  # 46 chars
    rows = [
        (1, "alpha " + boiler + " omega unique tail one"),
        (2, "beta " + boiler + " gamma " + boiler + " close"),  # twice in-doc
        (3, "no duplicated windows live here at all, short"),
        (4, boiler),  # exactly one window family, shared with 1 and 2
        (5, "pad " * 10 + boiler + " trailing pad " * 3),
    ]
    df = spark.createDataFrame(rows, schema="id long, text string")

    def norm(out):
        return sorted(
            (r["id"], r["span_start"], r["span_end"], r["n_windows"])
            for r in out.collect()
        )

    for L, mc in ((40, 2), (20, 2), (20, 3)):
        exact = norm(duplicate_spans(df, "id", "text", shingle_len=L,
                                     min_count=mc))
        hashed = norm(duplicate_spans(df, "id", "text", shingle_len=L,
                                      min_count=mc, hashed=True))
        assert hashed == exact and len(exact) > 0

    # the corpus-scale aggregation in the hashed plan groups a hash, not the
    # window string: xxhash64 appears, and the first (pre-candidate)
    # hashAggregate keys on h rather than the substring
    plan = duplicate_spans(df, "id", "text", hashed=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan


def test_c4_filter_rules(spark):
    """The C4 heuristics: line survives iff ≥5 words AND terminal
    punctuation; page survives iff ≥3 kept lines, no lorem ipsum, no brace."""
    from kgforge.datapipe.textstats import c4_filter

    good = "one two three four five six in this fine sentence."
    rows = [
        (1, "\n".join([good, good + "!", 'quoted line with five words here?"',
                       "too short."])),          # 3 kept → keep
        (2, "\n".join([good, good])),            # 2 kept → drop
        (3, "\n".join([good, good, "we sprinkle Lorem Ipsum dolor here sadly."])),
        (4, "\n".join([good, good, "a code line { with braces } five words."])),
        (5, ""),                                  # empty page
        (6, "no terminal punctuation on this long enough line"),
    ]
    df = spark.createDataFrame(rows, schema="id long, text string")
    out = {r["id"]: r for r in c4_filter(df, "id", "text").collect()}

    assert out[1]["keep"] and out[1]["n_kept_lines"] == 3
    assert out[1]["clean_text"].count("\n") == 2 and "too short" not in out[1]["clean_text"]
    assert not out[2]["keep"] and out[2]["n_kept_lines"] == 2
    assert not out[3]["keep"] and out[3]["has_lorem"]
    assert not out[4]["keep"] and out[4]["has_brace"]
    assert not out[5]["keep"] and out[5]["n_kept_lines"] == 0
    assert not out[6]["keep"] and out[6]["n_kept_lines"] == 0

    # pure codegen path: no Python execution nodes in the plan
    plan = c4_filter(df, "id", "text")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_dsir_select_prefers_target_domain(spark):
    """Docs made of target-domain vocabulary must outscore off-domain docs,
    the model join must broadcast, and nothing runs in Python."""
    from kgforge.datapipe.mix import dsir_select

    target_words = "protein genome enzyme receptor molecule"
    offdom_words = "goal striker referee penalty stadium"
    rows = (
        [(i, f"{target_words} study {i}", True) for i in range(10)]
        + [(100 + i, f"{offdom_words} match {i}", False) for i in range(10)]
        + [(200, target_words + " extra analysis", False)]  # unlabeled target-like
    )
    df = spark.createDataFrame(rows, "id long, text string, is_t boolean")
    out = dsir_select(df, "id", "text", "is_t", k=11).collect()
    picked = [r["id"] for r in out]
    # all 10 labeled target docs plus the unlabeled target-like one win
    assert set(picked) == set(range(10)) | {200}
    # integer scores: partition-invariant ordering, target-like on top
    assert all(r["score"] > 0 for r in out)

    plan = dsir_select(df, "id", "text", "is_t", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "TakeOrdered" in plan  # top-k, not a global sort


def test_ppm_roundtrip_exact(spark):
    from kgforge.datapipe.multimodal import (
        _parse_ppm,
        decode_ppm,
        synth_ppm_payloads,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 7, 13, 50)], "doc_id bigint")
    got = {
        r["doc_id"]: r.asDict()
        for r in decode_ppm(synth_ppm_payloads(ids)).collect()
    }
    for seed in (0, 7, 13, 50):
        w, h = 8 + seed % 8, 6 + seed % 6
        raster = [(seed * 37 + j * 101) % 256 for j in range(w * h * 3)]
        r = got[seed]
        assert (r["width"], r["height"], r["maxval"]) == (w, h, 255)
        assert r["n_bytes"] == w * h * 3
        assert r["sum_r"] == sum(raster[0::3])
        assert r["sum_g"] == sum(raster[1::3])
        assert r["sum_b"] == sum(raster[2::3])
        assert r["peak_byte"] == max(raster)

    # the parser is a real one: comments in the header are legal NetPBM
    w, h, maxval, raster = _parse_ppm(b"P6\n# a comment\n2 1\n255\n" + bytes(6))
    assert (w, h, maxval, len(raster)) == (2, 1, 255, 6)
