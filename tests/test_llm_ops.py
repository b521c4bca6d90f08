"""Quality/semantic tests for the LLM-data operators beyond oracle
parity: recall of the approximate techniques against exact baselines,
and multimodal plumbing behavior."""

from __future__ import annotations

import pytest

from insurance_claim_data_pipeline_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def jaccard_pairs(spark, sf_dir):
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }


def test_near_dups_exist_in_fixture(jaccard_pairs):
    """The synthetic corpus plants real near-duplicates — if this fails
    the dedup family is being tested against nothing."""
    assert any(j >= 0.8 for j in jaccard_pairs.values())


def test_minhash_recall_of_strong_pairs(spark, sf_dir, jaccard_pairs):
    """MinHash-LSH must recover the strong (jaccard ≥ 0.8) pairs found
    by the exact method: at 12 hashes / 3 bands of 4, a 0.8-similar pair
    matches a band with p = 1-(1-0.8^4)^3 ≈ 0.93 per band-set; the
    planted pairs are ≈ 0.99 similar so recall should be total."""
    mh = {
        (r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    strong = {p for p, j in jaccard_pairs.items() if j >= 0.8}
    assert strong, "fixture should contain strong pairs"
    assert strong <= mh, f"missed: {strong - mh}"


def test_simhash_precision_and_recall(spark, sf_dir, jaccard_pairs):
    """SimHash (Hamming ≤ 3 over shingle features) is a precision-first
    detector: every pair it reports must be a genuine near-dup (strong
    shingle Jaccard), and it must find a healthy share of the planted
    near-identical pairs."""
    sh = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    assert len(sh) >= 5, f"expected several near-dup pairs, got {sh}"
    strong = {p for p, j in jaccard_pairs.items() if j >= 0.7}
    false_pos = set(sh) - strong
    assert not false_pos, f"simhash reported non-near-dup pairs: {false_pos}"
    very_strong = {p for p, j in jaccard_pairs.items() if j >= 0.95}
    if very_strong:
        recall = len(very_strong & set(sh)) / len(very_strong)
        assert recall >= 0.3, f"recall of near-identical pairs too low: {recall:.2f}"


def test_simhash_sized_configs_are_output_invariant(spark, sf_dir):
    """The sized banding dial (VERDICT r10 #1) must be invisible in the
    output: every config in SIMHASH_SIZED_CONFIGS joins on C(m,3)
    combinations of m-3 bands, which pigeonhole guarantees complete for
    Hamming <= 3, and the exact popcount tail does the rest. Pins both
    the inline-struct (m=4/5/6) and the literal-offsets aggregate-fold
    (m=10) key projections to identical pair sets."""
    results = {
        m: sorted(
            tuple(r) for r in dedup.dedup_simhash(spark, sf_dir, m_bands=m).collect()
        )
        for m in (4, 5, 6, 10)
    }
    assert results[4], "fixture should plant simhash near-dups"
    for m in (5, 6, 10):
        assert results[m] == results[4], f"m={m} diverges from m=4"


def test_sem_lsh_sizing_ladder():
    """The flagship's sized-bank ladder: fixture contract (rows=3 at
    N <= 5000, keeping every driver-SF hash), then the r09-measured
    linear regime rows = 10 + ceil(log2(N/5000)), capped at MAX_ROWS;
    the generated SQL CASE must agree with the Python rung table at
    every boundary (the two engines size from the same count)."""
    import duckdb

    assert dedup._sem_lsh_ladder() == [
        (5_000, 3),
        (10_000, 11),
        (20_000, 12),
        (40_000, 13),
        (None, 14),
    ]
    case = dedup._sem_lsh_rows_case_sql("n")
    for n in (0, 1, 5_000, 5_001, 10_000, 10_001, 20_000, 20_001, 40_000, 40_001, 10**9):
        sql_r = duckdb.sql(f"SELECT {case} FROM (SELECT {n} AS n)").fetchone()[0]
        assert sql_r == dedup._sem_lsh_rows_for(n), n


def test_simhash_sizing_probe_thresholds():
    """The corpus-count -> band-count dial follows the caps table."""
    assert dedup._simhash_bands_for(0) == 4
    assert dedup._simhash_bands_for(200_000) == 4
    assert dedup._simhash_bands_for(200_001) == 5
    assert dedup._simhash_bands_for(30_000_000) == 5
    assert dedup._simhash_bands_for(1_000_000_000) == 6
    assert dedup._simhash_bands_for(10**12) == 10


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    """The LSH index scans ~7/64 of the data (own bucket + 6 one-bit
    probes) — on near-random vectors recall@5 is modest by design;
    assert it beats random scanning and that returned scores are exact
    (re-ranked by true cosine, so every returned cos_sim must equal the
    brute-force value for that pair)."""
    bf = similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    lsh = similarity.sim_topk_lsh(spark, sf_dir).collect()
    bf_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in bf}
    bf_pairs = set(bf_scores)
    lsh_pairs = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    # random-projection LSH on random data: recall must beat the ~11%
    # scan fraction materially (cosine-correlated buckets)
    assert recall >= 0.2, f"recall {recall:.2f}"
    # per-query k bound
    from collections import Counter

    per_q = Counter(q for q, _ in lsh_pairs)
    assert all(v <= similarity.TOP_K for v in per_q.values())


def test_multimodal_binary_roundtrip(spark, sf_dir):
    """The binary column really is the UTF-8 payload and the stub decode
    consumes real bytes through Arrow batches."""
    bdf = multimodal.binary_documents(spark, sf_dir)
    row = bdf.orderBy("doc_id").first()
    assert isinstance(row["content"], bytearray | bytes)
    assert row["n_bytes_meta"] == len(row["content"])

    decoded = {r["doc_id"]: r for r in multimodal.decode_metadata(bdf).collect()}
    assert decoded[row["doc_id"]]["n_bytes"] == len(row["content"])
    assert 1 <= decoded[row["doc_id"]]["width"] <= 640


def test_real_decoder_is_gated():
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal.decode_image_real(b"\x89PNG...")


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=2 of 16 cells scans ~1/8 of the corpus per query;
    recall must beat that scan fraction materially, and returned scores
    are exact cosines (match brute force per pair)."""
    bf = similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    ivf = similarity.sim_topk_ivf(spark, sf_dir).collect()
    bf_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in bf}
    ivf_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(set(bf_scores) & ivf_pairs) / len(bf_scores)
    assert recall >= 0.2, f"recall {recall:.2f}"
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_scores:
            assert r["cos_sim"] == bf_scores[key]


def test_ema_matches_independent_recomputation(spark, sf_dir):
    """The applyInPandas EMA must equal a from-scratch Python
    recomputation of the recurrence over the same (sorted) events."""
    import math

    from insurance_claim_data_pipeline_spark.operators.ema import (
        E6,
        TAU_US,
        events_ema_irregular,
    )
    from insurance_claim_data_pipeline_spark.session import load_table
    from pyspark.sql import functions as F

    got = {
        (r["user_id"], r["event_id"]): r["ema_e6"]
        for r in events_ema_irregular(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    n_checked = 0
    for user, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts_us"], r["event_id"]))
        ema = None
        prev_ts = None
        for r in evs:
            x = int(math.floor(r["value"] * E6 + 0.5))
            if ema is None:
                ema = x
            else:
                w = int(math.floor(E6 * (1.0 - math.exp(-(r["ts_us"] - prev_ts) / TAU_US)) + 0.5))
                ema = (w * x + (E6 - w) * ema) // E6
            prev_ts = r["ts_us"]
            assert got[(user, r["event_id"])] == ema
            n_checked += 1
    assert n_checked == len(got) > 0


def test_components_nonconvergence_raises(spark, sf_dir, monkeypatch):
    # With a 0-round budget any non-trivial pair graph cannot converge;
    # the operator must fail loudly rather than return partial labels.
    monkeypatch.setattr(dedup, "_COMPONENTS_MAX_ROUNDS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_components(spark, sf_dir).collect()


def test_ngram_jaccard_max_df_noop_when_cap_above_max_frequency(spark, sf_dir):
    from insurance_claim_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from insurance_claim_data_pipeline_spark.session import load_table

    doc = load_table(spark, sf_dir, "documents")
    base = sorted(map(tuple, ngram_jaccard_pairs(doc).collect()))
    capped = sorted(map(tuple, ngram_jaccard_pairs(doc, max_df=doc.count()).collect()))
    assert base == capped and len(base) > 0


# keyed shingle rows (doc_id, sh_key, c): key 100 is in 5 index docs,
# above the max_df=3 used below; key 300 sits exactly at the cap
_OVERLAP_INDEX = [
    (1, 100, 1), (2, 100, 2), (3, 100, 1), (4, 100, 3), (5, 100, 1),
    (1, 200, 2), (2, 200, 3),
    (2, 300, 1), (3, 300, 4), (4, 300, 2),
    (5, 400, 2), (6, 400, 1), (6, 500, 1),
]
# key 500 is in 4 probe docs but 1 index doc: df is the index's
_OVERLAP_PROBE = [
    (10, 100, 1), (10, 200, 1), (11, 300, 1), (11, 500, 1),
    (12, 500, 1), (13, 500, 1), (14, 500, 1), (14, 600, 1),
]


def _overlap_reference(index, probe, max_df, weighted):
    from collections import Counter

    df = Counter(k for _, k, _ in index)
    out = Counter()
    for da, ka, ca in index if probe is None else probe:
        for db, kb, cb in index:
            if ka == kb and df[ka] <= max_df and (probe is not None or da < db):
                out[(da, db)] += min(ca, cb) if weighted else 1
    return dict(out)


@pytest.mark.parametrize("mode", ["count", "weighted", "probe"])
def test_shingle_overlap_matches_bruteforce(spark, mode):
    """shingle_overlap against a pure-Python overlap on a corpus where
    the cap engages: the hot key leaves both sides on every path
    (self-join count, weighted Σ least(cₐ, c_b), and probe), df is
    counted on the index only, and keys at the cap stay."""
    from insurance_claim_data_pipeline_spark.operators.dedup import shingle_overlap

    weighted = mode == "weighted"
    probe = _OVERLAP_PROBE if mode == "probe" else None
    cols = ["doc_id", "sh_key", "c"] if weighted else ["doc_id", "sh_key"]

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, sh_key long, c long").select(*cols)

    got = shingle_overlap(
        frame(_OVERLAP_INDEX), probe=None if probe is None else frame(probe), max_df=3
    )
    want = _overlap_reference(_OVERLAP_INDEX, probe, 3, weighted)
    assert want != _overlap_reference(_OVERLAP_INDEX, probe, 10, weighted)
    assert {(r["doc_a"], r["doc_b"]): r["n_common"] for r in got.collect()} == want


def test_ngram_jaccard_max_df_drops_hot_shingle_pairs(spark):
    from insurance_claim_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    # 6 docs share one identical "boilerplate" 5-token shingle but are
    # otherwise disjoint; 2 docs are genuine near-dups of each other.
    hot = "all rights reserved by publisher"
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(6)]
    near = "the quick brown fox jumps over the lazy dog today"
    rows += [(10, near), (11, near + " extra")]
    doc = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = ngram_jaccard_pairs(doc).collect()
    capped = ngram_jaccard_pairs(doc, max_df=3).collect()
    # the near-dup pair survives the cap with its exact jaccard
    surviving = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped}
    assert (10, 11) in surviving
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in uncapped}
    assert surviving[(10, 11)] == exact[(10, 11)]
    # no candidate pair among the boilerplate-only docs
    assert all(a not in range(6) or b not in range(6) for (a, b) in surviving)


def test_ivf_trained_recall_at_least_fixed(spark, sf_dir):
    """k-means-trained centroids must not lose recall vs the fixed
    quantizer, and training must be deterministic (two runs, identical
    output)."""
    bf = {(r["query_id"], r["neighbor_id"]) for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()}
    fixed = {(r["query_id"], r["neighbor_id"]) for r in similarity.sim_topk_ivf(spark, sf_dir).collect()}
    t1 = similarity.sim_topk_ivf_trained(spark, sf_dir).collect()
    trained = {(r["query_id"], r["neighbor_id"]) for r in t1}
    recall_fixed = len(bf & fixed) / len(bf)
    recall_trained = len(bf & trained) / len(bf)
    assert recall_trained >= recall_fixed, (recall_trained, recall_fixed)
    t2 = similarity.sim_topk_ivf_trained(spark, sf_dir).collect()
    assert sorted(map(tuple, t1)) == sorted(map(tuple, t2))


@pytest.mark.parametrize("name", ["sim_topk_ivf_trained", "sim_topk_pq_trained"])
def test_trained_ann_leaves_no_sql_cache(spark, sf_dir, name):
    """The trained quantizers read their embeddings projection once per
    Lloyd round and again in the search. A ``.cache()`` there stays in the
    session's cache manager after the query, and later plans over the
    same fragment read it instead of the table; a pin leaves nothing
    behind."""
    spark.catalog.clearCache()
    assert getattr(similarity, name)(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pii_redaction_positive_matches(spark):
    """The registry query proves regex-dialect parity on clean text; the
    positive-match semantics are locked here on literal rows."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.textops import PII_PATTERNS

    rows = [
        (1, "contact jane.doe+spam@example.co.uk for details"),
        (2, "ssn 123-45-6789 on file"),
        (3, "call +1 (415) 555-0199 or 020 7946-0958 today"),
        (4, "mixed: a@b.io then 987-65-4321 then 415 555 0100 end"),
        (5, "clean text with no identifiers at all"),
    ]
    doc = spark.createDataFrame(rows, ["doc_id", "text"])
    expr = F.col("text")
    out = [F.col("doc_id")]
    for name, pat in PII_PATTERNS:
        out.append(F.regexp_count(expr, F.lit(pat)).cast("long").alias(f"n_{name}"))
        expr = F.regexp_replace(expr, pat, f"[{name.upper()}]")
    got = {r["doc_id"]: r for r in doc.select(*out, expr.alias("redacted")).collect()}

    assert got[1]["n_email"] == 1 and got[1]["redacted"] == "contact [EMAIL] for details"
    assert got[2]["n_ssn"] == 1 and got[2]["redacted"] == "ssn [SSN] on file"
    assert got[3]["n_phone"] == 2
    assert "[PHONE]" in got[3]["redacted"] and "555" not in got[3]["redacted"]
    # ordering: the SSN is consumed by the SSN class, not the phone class
    assert got[4]["n_email"] == 1 and got[4]["n_ssn"] == 1 and got[4]["n_phone"] == 1
    assert got[5]["redacted"] == rows[4][1]  # clean text passes through


def test_stratified_sample_is_nested_subset(spark, sf_dir):
    """Raising a stratum's rate must only ADD documents (nested
    samples) — the hash-bucket design's key property."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.sampling import hash_bucket
    from insurance_claim_data_pipeline_spark.session import load_table

    doc = load_table(spark, sf_dir, "documents")
    at_10 = {r["doc_id"] for r in doc.filter(hash_bucket("doc_id") < 10).select("doc_id").collect()}
    at_50 = {r["doc_id"] for r in doc.filter(hash_bucket("doc_id") < 50).select("doc_id").collect()}
    assert at_10 <= at_50
    n = doc.count()
    # uniformity sanity: 10% within ±6 percentage points at this SF
    assert abs(len(at_10) / n - 0.10) < 0.06


def test_tfidf_rare_terms_outrank_common(spark, sf_dir):
    """A term appearing in fewer documents must outscore one with the
    same tf appearing in more documents."""
    from insurance_claim_data_pipeline_spark.operators.textops import text_tfidf_topk

    rows = text_tfidf_topk(spark, sf_dir).collect()
    assert rows, "tfidf produced no rows"
    for r in rows:
        assert r["rnk"] <= 3 and r["score_e6"] > 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r["rnk"])
        scores = [r["score_e6"] for r in doc_rows]
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# Round 2: packing, quantile filter, centroid outliers, leakage-safe split
# ---------------------------------------------------------------------------


def test_pack_concat_chunks_contiguous(spark, sf_dir):
    """The packed token stream is gapless: in doc_id order, each doc
    starts exactly where the previous one ended, chunk ids follow the
    start offset, and the crossing flag matches chunk arithmetic."""
    from insurance_claim_data_pipeline_spark.operators import packing

    rows = sorted(
        packing.pack_concat_chunks(spark, sf_dir).collect(), key=lambda r: r["doc_id"]
    )
    off = 0
    for r in rows:
        assert r["start_offset"] == off
        assert r["chunk_id"] == off // packing.SEQ_LEN
        end = off + r["n_tok"]
        assert r["crosses_chunk"] == (off // packing.SEQ_LEN != (end - 1) // packing.SEQ_LEN)
        off = end


def test_quality_quantile_per_lang_fraction(spark, sf_dir):
    """Kept fraction per language is exactly floor(0.8·n)/n — no
    language is globally starved, ranks are dense from 1."""
    from insurance_claim_data_pipeline_spark.operators import textops
    from insurance_claim_data_pipeline_spark.session import load_table

    kept = textops.text_quality_quantile(spark, sf_dir).collect()
    totals = {
        r["lang"]: r["cnt"]
        for r in load_table(spark, sf_dir, "documents").groupBy("lang").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
        ).collect()
    }
    by_lang: dict[str, list] = {}
    for r in kept:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        n = totals[lang]
        assert len(rows) == (n * textops.QUALITY_KEEP_PCT) // 100
        assert sorted(r["rnk"] for r in rows) == list(range(1, len(rows) + 1))


def test_centroid_outliers_k_per_label(spark, sf_dir):
    from insurance_claim_data_pipeline_spark.operators import similarity

    rows = similarity.emb_centroid_outliers(spark, sf_dir).collect()
    per_label: dict[int, int] = {}
    for r in rows:
        per_label[r["label"]] = per_label.get(r["label"], 0) + 1
        assert 1 <= r["rnk"] <= similarity.OUTLIER_K
    assert per_label and all(v == similarity.OUTLIER_K for v in per_label.values())


def test_leakage_safe_split_keeps_components_together(spark, sf_dir):
    """THE property this operator exists for: every doc of a near-dup
    component lands in the same split, and at least one multi-doc
    component exists in the fixture so the assertion bites."""
    from insurance_claim_data_pipeline_spark.operators import sampling

    rows = sampling.split_leakage_safe(spark, sf_dir).collect()
    split_of_group: dict[int, set] = {}
    sizes: dict[int, int] = {}
    for r in rows:
        split_of_group.setdefault(r["group_id"], set()).add(r["split"])
        sizes[r["group_id"]] = sizes.get(r["group_id"], 0) + 1
    assert all(len(s) == 1 for s in split_of_group.values())
    assert max(sizes.values()) > 1, "fixture should contain a multi-doc component"


def test_repetition_filter_flags_degenerate_doc(spark, sf_dir):
    """A synthetic looped document must be dropped; varied text kept.
    Run the same column logic by swapping a literal frame in for the
    table via a temp view is overkill — instead assert on the real
    corpus output plus threshold arithmetic on one known row."""
    from insurance_claim_data_pipeline_spark.operators import textops

    rows = textops.text_repetition_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expected = (
            r["dup2_e6"] <= textops.DUP2_MAX_E6
            and r["dup3_e6"] <= textops.DUP3_MAX_E6
            and r["toptok_e6"] <= textops.TOPTOK_MAX_E6
        )
        assert r["keep"] == expected
        assert 0 <= r["dup2_e6"] <= 1_000_000
        assert 0 <= r["dup3_e6"] <= 1_000_000
        assert 0 < r["toptok_e6"] <= 1_000_000
    kept = {r["keep"] for r in rows}
    assert kept == {True, False}, "fixture should exercise both branches"


def test_contamination_no_benchmark_docs_in_output(spark, sf_dir):
    """Benchmark members never appear as contaminated corpus docs, and
    every reported doc really shares a shingle with a benchmark doc."""
    from insurance_claim_data_pipeline_spark.operators import textops

    rows = textops.text_contamination(spark, sf_dir).collect()
    assert rows, "fixture should contain at least one contaminated doc"
    for r in rows:
        assert r["doc_id"] % textops.BENCH_MOD != 0
        assert r["n_hit_shingles"] >= 1 and r["n_bench_docs"] >= 1


def test_mixture_weights_rates(spark, sf_dir):
    """At least one source anchors at rate 1e6 (keep everything); kept
    counts never exceed totals; higher-weight sources of equal size get
    rates at least as high."""
    from insurance_claim_data_pipeline_spark.operators import sampling

    rows = sampling.sample_mixture_weights(spark, sf_dir).collect()
    assert any(r["rate_e6"] == 1_000_000 for r in rows)
    for r in rows:
        assert 0 < r["rate_e6"] <= 1_000_000
        assert 0 <= r["n_kept"] <= r["n_docs"]
    by_size: dict[int, list] = {}
    for r in rows:
        by_size.setdefault(r["n_docs"], []).append(r)
    for grp in by_size.values():
        grp.sort(key=lambda r: r["w"])
        rates = [r["rate_e6"] for r in grp]
        assert rates == sorted(rates)


def test_weighted_median_matches_bruteforce(spark, sf_dir):
    """The pandas-UDAF result equals an independent driver-side
    recomputation of the lower weighted median for every group."""
    from insurance_claim_data_pipeline_spark.operators import advanced
    from insurance_claim_data_pipeline_spark.session import load_table

    got = {
        r["l_returnflag"]: (r["weighted_median"], r["n_rows"])
        for r in advanced.agg_weighted_median_pandas(spark, sf_dir).collect()
    }
    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["l_quantity"])
        )
    for flag, vw in groups.items():
        vw.sort()
        tot = sum(w for _, w in vw)
        cum = 0.0
        for v, w in vw:
            cum += w
            if cum * 2 >= tot:
                assert got[flag] == (v, len(vw)), flag
                break


def test_weighted_median_udfs_declare_type_hints(spark, sf_dir):
    """Both grouped-aggregate pandas UDFs are declared by type hints,
    not by the deprecated ``PandasUDFType`` argument, which makes
    PySpark warn on every build of the query."""
    import warnings

    from insurance_claim_data_pipeline_spark.operators import advanced

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        df = advanced.agg_weighted_median_pandas(spark, sf_dir)
    assert df.columns == ["l_returnflag", "weighted_median", "n_rows"]


def test_bigram_logprob_properties(spark, sf_dir):
    """Log-probabilities are non-positive; every multi-token doc is
    scored; a doc of one repeated bigram scores ~0 only if that bigram
    is deterministic after its first token corpus-wide."""
    from insurance_claim_data_pipeline_spark.operators import textops
    from insurance_claim_data_pipeline_spark.session import load_table
    import pyspark.sql.functions as F

    out = textops.text_bigram_logprob(spark, sf_dir)
    rows = out.collect()
    assert all(r["sum_logp_e6"] <= 0 for r in rows)
    assert all(r["n_bigrams"] >= 1 for r in rows)
    n_multi = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert len(rows) == n_multi


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """ADC over 8-byte codes must still find a solid share of the true
    L2 top-k — PQ is lossy, but with 16 codebook entries per subspace
    the demo corpus should keep recall well above chance."""
    import pyspark.sql.functions as F
    from insurance_claim_data_pipeline_spark.functions.vectors import as_double
    from insurance_claim_data_pipeline_spark.operators import similarity
    from insurance_claim_data_pipeline_spark.session import load_table

    got = similarity.sim_topk_pq(spark, sf_dir).collect()
    approx: dict[int, set] = {}
    for r in got:
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    rows = emb.collect()
    vecs = {r["vec_id"]: r["v"] for r in rows}
    recalls = []
    for qid in approx:
        qv = vecs[qid]
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        exact = {vid for _, vid in dists[: similarity.TOP_K]}
        recalls.append(len(exact & approx[qid]) / similarity.TOP_K)
    mean_recall = sum(recalls) / len(recalls)
    # chance recall is TOP_K/N ≈ 1%; untrained codebooks on near-random
    # vectors measured 0.20 at M=16 — assert an order above chance
    assert mean_recall >= 0.1, recalls


def test_pq_codes_shape(spark, sf_dir):
    from insurance_claim_data_pipeline_spark.operators import similarity

    rows = similarity.emb_pq_encode(spark, sf_dir).collect()
    for r in rows:
        parts = r["codes"].split("|")
        assert len(parts) == similarity.PQ_M
        assert all(0 <= int(p) < similarity.PQ_K for p in parts)
        assert r["quant_err_e6"] >= 0
    # anchors quantize their own subspaces exactly: zero error
    anchor_err = {
        r["vec_id"]: r["quant_err_e6"]
        for r in rows
        if similarity.IVF_C_LO <= r["vec_id"] < similarity.IVF_C_HI
    }
    assert anchor_err and all(v == 0 for v in anchor_err.values())


def test_pagerank_mass_and_hubs(spark, sf_dir):
    """Total rank mass stays ≈ 1.0 (integer truncation leaks only
    downward), every node keeps positive rank, and the highest-degree
    node outranks the median — the sanity triad for a fixed-point
    PageRank."""
    import pyspark.sql.functions as F
    from insurance_claim_data_pipeline_spark.operators import graph
    from insurance_claim_data_pipeline_spark.session import load_table

    pr = {r["node"]: r["pr_e12"] for r in graph.graph_pagerank(spark, sf_dir).collect()}
    assert pr and all(v > 0 for v in pr.values())
    total = sum(pr.values())
    assert 0.95 * graph.PR_SCALE <= total <= graph.PR_SCALE

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    deg: dict[int, int] = {}
    for r in (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select((F.col("o_custkey") * 2).alias("c"), (F.col("l_suppkey") * 2 + 1).alias("s"))
        .distinct()
        .collect()
    ):
        deg[r["c"]] = deg.get(r["c"], 0) + 1
        deg[r["s"]] = deg.get(r["s"], 0) + 1
    hub = max(deg, key=lambda k: deg[k])
    ranks = sorted(pr.values())
    median = ranks[len(ranks) // 2]
    assert pr[hub] > median


def test_lttb_matches_independent_recomputation(spark, sf_dir):
    """The applyInPandas LTTB must select exactly the rows that the
    module-level reference implementation picks over the same sorted
    series — and keep endpoints + the configured point budget."""
    import pyspark.sql.functions as F
    from insurance_claim_data_pipeline_spark.operators import downsample
    from insurance_claim_data_pipeline_spark.session import load_table

    got: dict[int, list] = {}
    for r in downsample.events_lttb_downsample(spark, sf_dir).collect():
        got.setdefault(r["user_id"], []).append((r["ts_us"], r["event_id"], r["value"]))
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts_us"], r["event_id"], r["value"]))
    assert set(got) == set(by_user)
    for user, evs in by_user.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        keep = downsample.lttb_select(
            [float(t[0]) for t in evs], [float(t[2]) for t in evs], downsample.LTTB_BUCKETS
        )
        expected = [evs[i] for i in keep]
        assert sorted(got[user]) == sorted(expected), user
        if len(evs) > downsample.LTTB_BUCKETS:
            assert len(got[user]) == downsample.LTTB_BUCKETS
        assert evs[0] in got[user] and evs[-1] in got[user]


def test_pq_training_reduces_quantization_error(spark, sf_dir):
    """k-means sub-codebooks must strictly reduce total quantization
    error vs the fixed anchors (Lloyd never increases train-set SSE;
    measured ~25% lower here), and trained-ADC recall stays at least at
    the untrained level's floor."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W
    from insurance_claim_data_pipeline_spark.functions.vectors import as_double
    from insurance_claim_data_pipeline_spark.operators import similarity
    from insurance_claim_data_pipeline_spark.session import load_table

    untrained = (
        similarity.emb_pq_encode(spark, sf_dir).agg(F.sum("quant_err_e6")).collect()[0][0]
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cb = similarity.train_pq_codebooks(emb)
    subv = similarity._pq_subvectors(emb)
    w = W.partitionBy("vec_id", "m").orderBy("dist_e6", "k")
    assigned = (
        subv.join(F.broadcast(cb), "m")
        .select("vec_id", "m", similarity._l2_e6(F.col("sv"), F.col("a")).alias("dist_e6"), "k")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
    )
    trained = assigned.agg(F.sum("dist_e6")).collect()[0][0]
    assert trained < untrained, (trained, untrained)

    rows = similarity.sim_topk_pq_trained(spark, sf_dir).collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert per_q and all(v <= similarity.TOP_K for v in per_q.values())


def test_quality_threshold_approx_brackets_exact(spark, sf_dir):
    """The sketch-threshold filter keeps ≈ the top 80% per language and
    agrees with the exact window formulation everywhere except possibly
    the threshold tie region."""
    from insurance_claim_data_pipeline_spark.operators import textops
    from insurance_claim_data_pipeline_spark.session import load_table

    approx = {r["doc_id"]: r for r in textops.text_quality_threshold_approx(spark, sf_dir).collect()}
    exact = {r["doc_id"]: r for r in textops.text_quality_quantile(spark, sf_dir).collect()}
    totals: dict[str, int] = {}
    for r in load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect():
        totals[r["lang"]] = totals.get(r["lang"], 0) + 1
    kept: dict[str, int] = {}
    for r in approx.values():
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    for lang, n in totals.items():
        frac = kept.get(lang, 0) / n
        assert 0.7 <= frac <= 0.95, (lang, frac)
    # disagreements only at the per-language threshold score
    thr_scores = {
        lang: min(r["quality_score"] for r in approx.values() if r["lang"] == lang)
        for lang in kept
    }
    for d in set(approx) ^ set(exact):
        row = approx.get(d) or exact.get(d)
        assert row["quality_score"] == pytest.approx(thr_scores[row["lang"]], abs=1e-4), d


def test_approx_swaps_bracket_exact(spark, sf_dir):
    """Every *_approx scale swap must track its exact twin: HLL counts
    within rsd-derived tolerance, sketch percentiles within the exact
    neighboring quantiles' spread."""
    from insurance_claim_data_pipeline_spark.operators.analytics import (
        events_dwell_time,
        events_dwell_time_approx,
        events_rolling_distinct_users,
        events_rolling_distinct_users_approx,
    )
    from insurance_claim_data_pipeline_spark.operators.profile import (
        profile_documents,
        profile_documents_approx,
    )

    exact_wau = {r["day"]: r["wau"] for r in events_rolling_distinct_users(spark, sf_dir).collect()}
    approx_wau = {
        r["day"]: r["wau"] for r in events_rolling_distinct_users_approx(spark, sf_dir).collect()
    }
    assert set(exact_wau) == set(approx_wau)
    for day, n in exact_wau.items():
        assert abs(approx_wau[day] - n) <= max(3, 0.1 * n), (day, n, approx_wau[day])

    exact_p = {r["col_name"]: r for r in profile_documents(spark, sf_dir).collect()}
    approx_p = {r["col_name"]: r for r in profile_documents_approx(spark, sf_dir).collect()}
    assert set(exact_p) == set(approx_p)
    for c, r in exact_p.items():
        a = approx_p[c]
        assert (a["n_rows"], a["n_nonnull"], a["min_val"], a["max_val"]) == (
            r["n_rows"], r["n_nonnull"], r["min_val"], r["max_val"],
        )
        assert abs(a["n_distinct"] - r["n_distinct"]) <= max(3, 0.1 * r["n_distinct"])

    exact_d = {r["event_type"]: r for r in events_dwell_time(spark, sf_dir).collect()}
    approx_d = {r["event_type"]: r for r in events_dwell_time_approx(spark, sf_dir).collect()}
    assert set(exact_d) == set(approx_d)
    # percentile_approx's contract is RANK error (<= n/accuracy), not
    # value error — in a sparse tail neighboring elements can be far
    # apart, so assert the sketch returned an actual gap whose rank is
    # within tolerance of the target rank.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps_rows = (
        ev.select(
            "event_type",
            (F.unix_micros(F.lead("ts").over(order)) - F.unix_micros("ts")).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .collect()
    )
    by_type: dict = {}
    for r in gaps_rows:
        by_type.setdefault(r["event_type"], []).append(r["gap_us"])
    for t, r in exact_d.items():
        a = approx_d[t]
        assert a["n_gaps"] == r["n_gaps"]
        gaps = sorted(by_type[t])
        n = len(gaps)
        tol = max(1, n // 1000)  # rank tolerance at accuracy 10k, plus slack
        for p, frac in (("p50_us", 0.5), ("p90_us", 0.9), ("p99_us", 0.99)):
            target = int(frac * (n - 1))
            window = gaps[max(0, target - tol): min(n, target + tol + 2)]
            assert a[p] in window, (t, p, a[p], window[:4], n)


def test_incremental_dedup_max_df_guard(spark):
    """max_df on the incremental probe: batch docs similar to the corpus
    ONLY through hot boilerplate shingles stop matching once the cap
    drops those shingles from the index, while genuine near-dups keep
    their exact Jaccard."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.dedup import (
        INC_CORPUS_PCT,
        incremental_dedup_frame,
    )
    from insurance_claim_data_pipeline_spark.operators.sampling import hash_bucket

    ids = spark.range(0, 300).select(F.col("id").cast("long").alias("doc_id"))
    buckets = {
        r["doc_id"]: r["b"]
        for r in ids.select("doc_id", hash_bucket("doc_id").alias("b")).collect()
    }
    corpus_ids = [i for i, b in buckets.items() if b < INC_CORPUS_PCT]
    batch_ids = [i for i, b in buckets.items() if b >= INC_CORPUS_PCT]

    boiler = " ".join(f"legal{i}" for i in range(12))  # 8 hot shingles
    near = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(cid, f"{boiler} tail{cid}x tail{cid}y") for cid in corpus_ids[:5]]
    rows.append((corpus_ids[5], near))
    boiler_batch, near_batch = batch_ids[0], batch_ids[1]
    rows.append((boiler_batch, f"{boiler} other{boiler_batch}a other{boiler_batch}b"))
    rows.append((near_batch, near + " extra"))
    doc = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {r["doc_id"]: r for r in incremental_dedup_frame(doc).collect()}
    capped = {r["doc_id"]: r for r in incremental_dedup_frame(doc, max_df=3).collect()}
    # boilerplate-only similarity is killed by the cap (df of those
    # shingles is 5 > 3), admitted as 'new'
    assert uncapped[boiler_batch]["status"] == "dup"
    assert capped[boiler_batch]["status"] == "new"
    # the genuine near-dup keeps its exact uncapped jaccard
    assert capped[near_batch]["status"] == "dup"
    assert capped[near_batch]["match_doc_id"] == corpus_ids[5]
    assert capped[near_batch]["jaccard"] == uncapped[near_batch]["jaccard"]


def test_compression_ratio_direction_and_determinism(spark, sf_dir):
    """Repetitive text must compress harder than diverse text, and the
    operator must be deterministic across runs."""
    from insurance_claim_data_pipeline_spark.operators.textops import (
        text_compression_ratio,
    )

    rows = {r.doc_id: r for r in text_compression_ratio(spark, sf_dir).collect()}
    again = {r.doc_id: r for r in text_compression_ratio(spark, sf_dir).collect()}
    assert rows == again and rows
    for r in rows.values():
        assert r.n_compressed > 0 and r.n_bytes >= 0
        assert r.ratio_e6 == (r.n_compressed * 1_000_000) // r.n_bytes

    import zlib

    rep = "the same line over and over " * 50
    div = "".join(chr(33 + ((i * 7919) % 90)) for i in range(len(rep)))
    assert len(zlib.compress(rep.encode(), 6)) < len(zlib.compress(div.encode(), 6))


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR's selection must (a) keep the single most relevant result as
    step 1, and (b) never select a pair of results more similar to each
    other than the plain top-k's most redundant pair (on average) —
    the diversification it exists for."""
    from pyspark.sql import functions as F

    mmr = {(r["query_id"], r["step"]): r["neighbor_id"]
           for r in similarity.sim_topk_mmr(spark, sf_dir).collect()}
    top = {(r["query_id"], r["rnk"]): r["neighbor_id"]
           for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()}
    queries = {q for q, _ in top}
    for q in queries:
        assert mmr[(q, 1)] == top[(q, 1)]  # step 1 == most relevant
        assert len({mmr[(q, s)] for s in range(1, similarity.MMR_K + 1)}) == similarity.MMR_K


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """Aggregate sketch quality, not worst-case: a banded false
    positive can carry a large conditional error (it matched 4 hashes
    by luck — that is priced into LSH), but the MEAN error must stay
    within the 12-hash envelope and genuinely similar pairs must
    estimate high (the recall direction dedup decisions rely on)."""
    rows = dedup.dedup_minhash_eval(spark, sf_dir).collect()
    assert rows
    mean_err = sum(r["abs_err_e6"] for r in rows) / len(rows)
    assert mean_err < 250_000, mean_err
    for r in rows:
        if r["exact_jaccard"] >= 0.8:
            assert r["est_jaccard"] >= 0.5, (r["doc_a"], r["doc_b"])


def test_pq_rerank_recall_improves_on_adc(spark, sf_dir):
    """Two-stage retrieval contract: the exact re-rank of the ADC
    shortlist must (a) return exact cosines (every returned score equals
    the brute-force value for that pair), (b) recall strictly more of
    the true top-5 than the raw ADC ranking — measured 0.53 vs 0.20 at
    sf0.001 — because the shortlist is 4x deeper than k and the re-rank
    fixes quantization-order errors inside it."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    pq_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_topk_pq(spark, sf_dir).collect()
    }
    rr = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.sim_topk_pq_rerank(spark, sf_dir).collect()
    }
    pq_recall = len(pq_pairs & set(bf)) / len(bf)
    rr_recall = len(set(rr) & set(bf)) / len(bf)
    assert rr_recall >= 0.4, f"rerank recall {rr_recall:.2f}"
    assert rr_recall > pq_recall, (rr_recall, pq_recall)
    for pair, cos in rr.items():
        if pair in bf:
            assert cos == bf[pair], pair
    from collections import Counter

    per_q = Counter(q for q, _ in rr)
    assert all(v <= similarity.TOP_K for v in per_q.values())


def test_ivfpq_distances_match_full_adc(spark, sf_dir):
    """IVFPQ is a pure CANDIDATE restriction of the full ADC scan: for
    every returned (query, neighbor) the approximate distance must be
    bit-identical to the unrestricted scan's value (the cell probe
    changes which pairs are scored, never the scores), and each query
    returns at most TOP_K rows drawn from its probed cells only."""
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist_e6"]
        for r in similarity._pq_adc_scored(spark, sf_dir).collect()
    }
    iv = similarity.sim_topk_ivfpq(spark, sf_dir).collect()
    assert len(iv) == similarity.N_QUERIES * similarity.TOP_K
    for r in iv:
        key = (r["query_id"], r["neighbor_id"])
        assert full[key] == r["adc_dist_e6"], key


def test_span_dedup_interval_merge_exact(spark):
    """Planted-span fixture proves the gaps-and-islands union is exact:
    overlapping duplicated 8-grams merge into one covered interval
    (shared 10-token run → 10 covered tokens, not 3×8), disjoint runs
    sum, and a unique doc reports zero coverage."""
    from insurance_claim_data_pipeline_spark.operators.textops import span_dedup_frame

    run = [f"t{i}" for i in range(1, 11)]  # 10-token shared run
    r1 = [f"r{i}" for i in range(1, 9)]  # 8-token shared run 1
    r2 = [f"s{i}" for i in range(1, 9)]  # 8-token shared run 2
    doc = spark.createDataFrame(
        [
            (0, " ".join(run + ["u", "v"])),  # run at pos 1-10 of 12
            (1, " ".join(["p", "q"] + run)),  # run at pos 3-12 of 12
            (2, "m n o pp qq rr ss tt"),  # 8 unique tokens
            (3, " ".join(r1 + ["g1", "g2", "g3"] + r2)),  # two islands
            (4, " ".join(r2 + ["g4", "g5", "g6"] + r1)),  # different gap
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in span_dedup_frame(doc).collect()}
    assert got[0]["dup_span_tokens"] == 10 and got[0]["n_tokens"] == 12
    assert got[1]["dup_span_tokens"] == 10
    assert got[2]["dup_span_tokens"] == 0
    # islands: only the pure 8-gram of each run duplicates (gap tokens
    # differ between docs 3 and 4), so coverage = 8 + 8
    assert got[3]["dup_span_tokens"] == 16 and got[3]["n_tokens"] == 19
    assert got[4]["dup_span_tokens"] == 16
    assert got[0]["dup_frac_e6"] == 10 * 1_000_000 // 12


def test_ndcg_eval_bounds_and_perfect_queries(spark, sf_dir):
    """NDCG semantics: every score in [0, 1e6]; a query scores exactly
    1e6 iff its re-ranked top-5 equals the exact top-5 in order; and a
    query whose re-rank recalls nothing scores 0."""
    nd = {r["query_id"]: r["ndcg_e6"] for r in similarity.sim_ndcg_eval(spark, sf_dir).collect()}
    assert all(0 <= v <= 1_000_000 for v in nd.values())
    bf = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    rr = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in similarity.sim_topk_pq_rerank(spark, sf_dir).collect()
    }
    for q, v in nd.items():
        exact_order = all(
            rr.get((q, p)) == bf.get((q, p)) for p in range(1, similarity.TOP_K + 1)
        )
        assert (v == 1_000_000) == exact_order, (q, v)


def test_pca_project_cauchy_schwarz_and_anisotropy(spark):
    """cos²(v, PC1) is bounded by 1 (Cauchy-Schwarz on the exact
    integer sums) on the real table, and on a synthetic anisotropic
    cloud whose variance lives along one axis the captured-energy
    fraction is near 1 for points on that axis — the detector actually
    detects."""
    from insurance_claim_data_pipeline_spark.operators.similarity import (
        emb_pca_project,
        pca_centered,
        pca_direction_from_centered,
    )
    from pyspark.sql import functions as F

    rows = emb_pca_project(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    assert all(0.0 <= r["cos2_top"] <= 1.0 + 1e-12 for r in rows)

    # anisotropic cloud: dim 0 carries signal +/-i, other dims tiny noise
    vecs = [
        (i, [float((-1) ** i * (i % 7 + 1))] + [0.001 * ((i * 13 + j) % 5 - 2) for j in range(63)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    centered = pca_centered(emb)
    w = pca_direction_from_centered(centered)
    wrow = {r["dim"]: r["w_e6"] for r in w.collect()}
    top = max(wrow, key=lambda d: abs(wrow[d]))
    assert top == 0  # the direction found the signal axis


def test_perplexity_buckets_are_ordered_thirds(spark, sf_dir):
    """Bucket contract: the corpus splits into near-equal thirds, and
    the score ranges are strictly ordered — min(head) ≥ max(middle)
    boundary-wise (every head doc scores at least as high as every
    middle doc, etc.), which is what 'train on head, audit tail'
    relies on."""
    from collections import Counter

    from insurance_claim_data_pipeline_spark.operators.textops import (
        text_perplexity_buckets,
    )

    rows = text_perplexity_buckets(spark, sf_dir).collect()
    cnt = Counter(r["ppl_bucket"] for r in rows)
    assert set(cnt) == {"head", "middle", "tail"}
    assert max(cnt.values()) - min(cnt.values()) <= 1
    by = {b: [r["mlp_e6"] for r in rows if r["ppl_bucket"] == b] for b in cnt}
    assert min(by["head"]) >= max(by["middle"])
    assert min(by["middle"]) >= max(by["tail"])


def test_ivfpq_rerank_scores_are_exact_cosines(spark, sf_dir):
    """Three-stage contract: every returned score equals the
    brute-force cosine for that pair (refine is exact), candidates are
    restricted to the IVFPQ candidate set (each returned pair appears
    in the IVF-restricted ADC frame), and per-query k holds."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    adc_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity._ivfpq_adc_scored(spark, sf_dir).collect()
    }
    rr = similarity.sim_topk_ivfpq_rerank(spark, sf_dir).collect()
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rr)
    assert all(v <= similarity.TOP_K for v in per_q.values())
    for r in rr:
        key = (r["query_id"], r["neighbor_id"])
        assert key in adc_pairs
        if key in bf:
            assert r["cos_sim"] == bf[key]


def test_curriculum_pack_orders_by_quality_and_conserves_tokens(spark, sf_dir):
    """Curriculum contract: offsets follow the quality ranking (higher
    quality ⇒ strictly earlier offset), rank 1 starts at 0, total
    token count equals the id-ordered packing's (layout permutes, never
    drops), and chunk ids are consistent with offsets."""
    from insurance_claim_data_pipeline_spark.operators.packing import (
        SEQ_LEN,
        pack_concat_chunks,
        pack_curriculum_chunks,
    )

    cur = pack_curriculum_chunks(spark, sf_dir).collect()
    by_r = sorted(cur, key=lambda r: r["r"])
    assert by_r[0]["r"] == 1 and by_r[0]["start_offset"] == 0
    for a, b in zip(by_r, by_r[1:]):
        assert (a["quality_score"], -a["doc_id"]) >= (b["quality_score"], -b["doc_id"])
        assert b["start_offset"] == a["start_offset"] + a["n_tok"]
    assert sum(r["n_tok"] for r in cur) == sum(
        r["n_tok"] for r in pack_concat_chunks(spark, sf_dir).collect()
    )
    for r in cur:
        assert r["chunk_id"] == r["start_offset"] // SEQ_LEN


def test_langid_confusion_rates_partition_each_label(spark, sf_dir):
    """Matrix contract: per-label rates sum to ~1e6 (integer-division
    remainder < number of cells), every cell count is consistent with
    its label total, and the cell set covers every labeled language."""
    from collections import defaultdict

    from insurance_claim_data_pipeline_spark.operators.textops import (
        text_langid_confusion,
    )

    rows = text_langid_confusion(spark, sf_dir).collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r["labeled_lang"]].append(r)
    assert set(by_label) == {"en", "es", "fr", "de", "zh"}
    for label, cells in by_label.items():
        n_label = cells[0]["n_label"]
        assert sum(c["n"] for c in cells) == n_label
        rate_sum = sum(c["rate_e6"] for c in cells)
        assert 1_000_000 - len(cells) < rate_sum <= 1_000_000, label


def test_semantic_dedup_component_invariants(spark, sf_dir):
    """Cluster contract: exactly one kept member per component (the
    canonical = min vec_id), every pair above threshold lands in one
    component, and isolated vectors keep themselves."""
    from collections import defaultdict

    from insurance_claim_data_pipeline_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_semantic_components,
    )

    rows = dedup_semantic_components(spark, sf_dir).collect()
    comp = {r["vec_id"]: r["component_id"] for r in rows}
    members = defaultdict(list)
    for r in rows:
        members[r["component_id"]].append(r)
    for cid, ms in members.items():
        assert cid == min(m["vec_id"] for m in ms)
        assert sum(1 for m in ms if m["keep"]) == 1
        assert next(m for m in ms if m["keep"])["vec_id"] == cid
    for p in dedup_embedding_cosine(spark, sf_dir).collect():
        assert comp[p["vec_a"]] == comp[p["vec_b"]], (p["vec_a"], p["vec_b"])


def test_matryoshka_eval_bounds_and_signal(spark, sf_dir):
    """Eval contract: one row per query, overlap bounded by k, recall
    is the exact overlap ratio, and the 16-dim prefix carries more
    ranking signal than random guessing (expected overlap at chance is
    k²/N ≈ 0.05 per query — the observed mean must clearly beat it)."""
    from insurance_claim_data_pipeline_spark.operators.similarity import (
        TOP_K,
        emb_matryoshka_eval,
    )

    rows = emb_matryoshka_eval(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["n_overlap"] <= TOP_K
        assert r["recall_e6"] == r["n_overlap"] * 1_000_000 // TOP_K
    mean_overlap = sum(r["n_overlap"] for r in rows) / len(rows)
    assert mean_overlap > 0.2


def test_binary_hamming_scores_exact_and_recall(spark, sf_dir):
    """1-bit retrieval contract: returned scores are exact cosines
    (shared refine), per-query k holds, and the sign-bit Hamming
    shortlist recalls materially more of the true top-5 than chance
    (sign bits of cosine-similar vectors agree — the hyperplane-LSH
    argument with coordinate planes)."""
    from collections import Counter

    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    bq = similarity.sim_topk_binary_hamming(spark, sf_dir).collect()
    per_q = Counter(r["query_id"] for r in bq)
    assert all(v <= similarity.TOP_K for v in per_q.values())
    for r in bq:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert r["cos_sim"] == bf[key]
    recall = len({(r["query_id"], r["neighbor_id"]) for r in bq} & set(bf)) / len(bf)
    assert recall >= 0.2, recall


def test_rrf_fusion_beats_or_matches_worst_ranker(spark, sf_dir):
    """Fusion sanity: every fused result appears in at least one input
    shortlist (RRF never invents candidates), per-query k holds, and
    recall@5 vs exact cosine is at least the weaker single ranker's
    (the ensemble can't be dominated by its worst member on this
    data)."""
    from collections import Counter

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    fused = similarity.sim_topk_rrf_fusion(spark, sf_dir).collect()
    per_q = Counter(r["query_id"] for r in fused)
    assert all(v <= similarity.TOP_K for v in per_q.values())
    for r in fused:
        assert r["r_pq"] is not None or r["r_bq"] is not None
    fused_pairs = {(r["query_id"], r["neighbor_id"]) for r in fused}
    pq_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_topk_pq(spark, sf_dir).collect()
    }
    bq_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_topk_binary_hamming(spark, sf_dir).collect()
    }
    worst = min(len(pq_pairs & bf), len(bq_pairs & bf))
    assert len(fused_pairs & bf) >= worst


def test_nprobe_sweep_monotone_and_consistent(spark, sf_dir):
    """Tuning-curve contracts: recall is monotone non-decreasing in
    nprobe (more cells can only add candidates), and the sweep's np=2
    point equals the shipped-config eval's aggregate hit count
    (sim_ivf_recall_eval runs at N_PROBE=2)."""
    from insurance_claim_data_pipeline_spark.operators.similarity import (
        sim_ivf_nprobe_sweep,
        sim_ivf_recall_eval,
    )

    curve = {r["np"]: r for r in sim_ivf_nprobe_sweep(spark, sf_dir).collect()}
    assert sorted(curve) == [1, 2, 3, 4]
    rec = [curve[p]["recall_e6"] for p in (1, 2, 3, 4)]
    assert rec == sorted(rec)
    shipped = sum(r["n_hit"] for r in sim_ivf_recall_eval(spark, sf_dir).collect())
    assert curve[2]["n_hit"] == shipped


def test_farthest_point_seeds_beat_fixed_anchor_objective(spark, sf_dir):
    """Seeding-quality contract: the k-center objective (total min
    squared distance to the seed set) of the 5 farthest-point seeds
    must be strictly better (LOWER total, since coverage improves) than
    that of the first 5 FIXED anchor vectors — the baseline the trained
    quantizers currently start from — and the seed set contains the
    anchor start plus 4 distinct additions."""
    from pyspark.sql import functions as F

    from insurance_claim_data_pipeline_spark.operators.similarity import (
        IVF_C_LO,
        emb_farthest_point_seeds,
    )
    from insurance_claim_data_pipeline_spark.functions.vectors import as_double
    from insurance_claim_data_pipeline_spark.session import load_table

    rows = emb_farthest_point_seeds(spark, sf_dir).collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == 5 and len(set(ids)) == 5 and IVF_C_LO in ids
    fps_obj = rows[0]["total_min_dist_e6"]

    emb = {
        r["vec_id"]: r["v"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    }
    def objective(seed_ids):
        tot = 0
        seeds = [emb[s] for s in seed_ids]
        for v in emb.values():
            tot += min(
                round(sum((a - b) ** 2 for a, b in zip(v, s)) * 1_000_000)
                for s in seeds
            )
        return tot

    assert abs(objective(ids) - fps_obj) <= len(emb)  # per-vector rounding
    fixed = objective(list(range(IVF_C_LO, IVF_C_LO + 5)))
    assert fps_obj < fixed


def test_isotropy_identity_matches_bruteforce(spark, sf_dir):
    """The one-pass sum identity must equal the literal O(n²) mean
    pairwise cosine of the quantized unit vectors (numpy recompute),
    and the synthetic near-random space must read as isotropic
    (|mean cos| ≪ 1)."""
    import numpy as np

    from insurance_claim_data_pipeline_spark.operators.similarity import (
        emb_isotropy_score,
    )

    r = emb_isotropy_score(spark, sf_dir).collect()[0]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    q = []
    for row in emb:
        v = np.array(row["embedding"], dtype=np.float64)
        q.append(np.round(v / np.sqrt(np.dot(v, v)) * 1_000_000).astype(np.int64))
    q = np.stack(q)
    s = q.sum(axis=0)
    expect = int(np.dot(s, s)) - int((q.astype(object) ** 2).sum())
    assert r["pair_dot_sum_e12"] == expect
    assert abs(r["mean_pair_cos_e12"]) < 50_000_000_000  # |mean cos| < 0.05 at the x1e12 scale


def test_ctfidf_topk_structure(spark, sf_dir):
    """c-TF-IDF contract: k rows per source with dense ranks in score
    order, and each reported term genuinely occurs in that source's
    text (tf > 0)."""
    from collections import defaultdict

    from insurance_claim_data_pipeline_spark.operators.textops import (
        CTFIDF_TOP_K,
        text_ctfidf_topk,
    )

    rows = text_ctfidf_topk(spark, sf_dir).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
        assert r["tf"] > 0
    for src, rs in by_src.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= CTFIDF_TOP_K
        scores = [r["ctfidf_e6"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_shot_boundaries_numpy_recompute(spark, sf_dir):
    """Independent recompute of one document's frame histograms and L1
    distances; frame 0 never cuts; frame counts match the payload
    size."""
    import numpy as np

    from insurance_claim_data_pipeline_spark.operators.multimodal import (
        binary_documents,
        multimodal_shot_boundaries,
    )

    rows = [r for r in multimodal_shot_boundaries(spark, sf_dir).collect()]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    doc_id, frames = next(iter(sorted(by_doc.items())))
    frames = sorted(frames, key=lambda r: r["frame_id"])
    assert frames[0]["l1_prev"] is None and frames[0]["is_cut"] is False

    content = bytes(
        binary_documents(spark, sf_dir)
        .filter(f"doc_id = {doc_id}")
        .first()["content"]
    )
    b = np.frombuffer(content, dtype=np.uint8)
    assert len(frames) == (b.size + 255) // 256
    prev = None
    for r in frames:
        seg = b[r["frame_id"] * 256 : (r["frame_id"] + 1) * 256]
        assert r["n_bytes"] == seg.size
        hist = np.bincount(
            np.concatenate([seg >> 4, seg & 0x0F]), minlength=16
        ).astype(np.int64)
        if prev is not None:
            l1 = int(np.abs(hist - prev).sum())
            assert r["l1_prev"] == l1 and r["is_cut"] == (l1 > 96)
        prev = hist


def test_rerank_depth_sweep_monotone_and_anchored(spark, sf_dir):
    """Dial contracts: recall monotone non-decreasing in shortlist
    depth; depth 5 equals the raw PQ top-5's recall (re-scoring 5
    candidates cannot change the set); depth 20 equals the shipped
    two-stage op's recall."""
    from insurance_claim_data_pipeline_spark.operators.similarity import (
        sim_rerank_depth_sweep,
        sim_topk_pq,
        sim_topk_pq_rerank,
    )

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sim_topk_bruteforce(spark, sf_dir).collect()
    }
    curve = {r["depth"]: r["n_hit"] for r in sim_rerank_depth_sweep(spark, sf_dir).collect()}
    assert sorted(curve) == [5, 10, 20, 40]
    vals = [curve[d] for d in (5, 10, 20, 40)]
    assert vals == sorted(vals)
    pq5 = len({(r["query_id"], r["neighbor_id"]) for r in sim_topk_pq(spark, sf_dir).collect()} & bf)
    assert curve[5] == pq5
    rr20 = len({(r["query_id"], r["neighbor_id"]) for r in sim_topk_pq_rerank(spark, sf_dir).collect()} & bf)
    assert curve[20] == rr20


def test_star_contraction_matches_propagation_and_handles_long_chains(spark, sf_dir):
    """Star contraction must (a) agree with min-label propagation on
    the fixture's near-dup graph, and (b) solve a 60-vertex PATH graph
    — whose diameter exceeds the propagation loop's round budget — in
    O(log n) alternations, labeling every vertex with the chain head."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        dedup_components,
        dedup_components_star,
        star_contraction_components,
    )

    a = {r["doc_id"]: r["component_id"] for r in dedup_components(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["component_id"] for r in dedup_components_star(spark, sf_dir).collect()}
    assert a == b and a

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["component_id"] for r in star_contraction_components(chain).collect()}
    assert set(out) == set(range(100, 161))
    assert set(out.values()) == {100}

    # (c) hub skew: a 1000-leaf star whose hub id is NOT the minimum —
    # the shape where a collect_set-of-neighborhood formulation builds
    # one unbounded array row (r05 rewrote the half-rounds as a
    # min-aggregate equi-join precisely for this); every leaf and the
    # hub must label to the smallest leaf id.
    hub = spark.createDataFrame(
        [(5000, i) for i in range(1000, 2000)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["component_id"] for r in star_contraction_components(hub).collect()}
    assert len(out) == 1001
    assert set(out.values()) == {1000}


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Adversarial randomized equivalence: seeded pseudo-random graphs
    (md5-derived edges — reproducible, no RNG state) of assorted
    densities, star contraction vs a pure-Python union-find reference.
    Catches any contract drift the fixture/chain/hub shapes miss:
    multi-component forests, self-loops, duplicate and reversed edges,
    components whose minimum id only enters through a late edge."""
    import hashlib

    from insurance_claim_data_pipeline_spark.operators.dedup import (
        star_contraction_components,
    )

    def h(seed: str, i: int, mod: int) -> int:
        return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16) % mod

    for seed, n_nodes, n_edges in [("sparse", 40, 15), ("mid", 30, 30), ("dense", 12, 40)]:
        edges = [
            (h(seed + "a", i, n_nodes) + 1000, h(seed + "b", i, n_nodes) + 1000)
            for i in range(n_edges)
        ]  # includes self-loops, dups, and both orientations by construction
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical = min id per component (the operator's contract)
        comp: dict[int, int] = {}
        for v in parent:
            r = find(v)
            comp.setdefault(r, r)
            comp[r] = min(comp[r], v)
        expected = {v: comp[find(v)] for v in parent}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in star_contraction_components(pairs).collect()
        }
        assert got == expected, f"seed={seed}"
        # and the min-label twin must agree on the same graphs (their
        # diameters are far below its round budget)
        from insurance_claim_data_pipeline_spark.operators.dedup import (
            min_label_components,
        )

        got_ml = {
            r["doc_id"]: r["component_id"]
            for r in min_label_components(pairs).collect()
        }
        assert got_ml == expected, f"seed={seed} (min_label)"


def test_vad_segments_are_maximal_islands(spark, sf_dir):
    """Segments must be maximal: within a doc, consecutive segments are
    separated by at least one non-speech frame (seg gap ≥ 2), frame
    spans are consistent, and every segment frame count matches its
    span."""
    from insurance_claim_data_pipeline_spark.operators.multimodal import (
        multimodal_audio_vad,
    )

    rows = multimodal_audio_vad(spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert r["seg_end"] - r["seg_start"] + 1 == r["n_frames"]
        by_doc.setdefault(r["doc_id"], []).append(r)
    gaps_seen = False
    for segs in by_doc.values():
        segs.sort(key=lambda r: r["seg_start"])
        for a, b in zip(segs, segs[1:]):
            assert b["seg_start"] - a["seg_end"] >= 2  # maximality
            gaps_seen = True
    assert gaps_seen  # multi-segment docs exist → islands non-trivial


def test_watermark_detector_null_and_power(spark, sf_dir):
    """Null behavior: no fixture document may flag (green fraction is
    binomial around 1/2 under the hash greenlist) and the z-scores must
    center near 0. Power: a planted document whose every bigram is
    green (constructed by chaining greedily through the hash greenlist)
    must flag with a large positive z."""
    import hashlib

    from insurance_claim_data_pipeline_spark.operators.textops import (
        text_watermark_detect,
    )

    rows = text_watermark_detect(spark, sf_dir).collect()
    assert rows and not any(r["flagged"] for r in rows)
    mean_z = sum(r["z_score"] for r in rows) / len(rows)
    assert abs(mean_z) < 0.5

    def green(w1, w2):
        h = int(hashlib.md5(f"{w1}>{w2}".encode()).hexdigest()[:8], 16)
        return h % 2 == 0

    # plant: greedily chain 40 tokens so every transition is green
    words = [f"w{i}" for i in range(200)]
    chain = ["w0"]
    while len(chain) < 41:
        chain.append(next(w for w in words if green(chain[-1], w)))
    planted = spark.createDataFrame([(999999, " ".join(chain))], "doc_id long, text string")
    from insurance_claim_data_pipeline_spark.operators import textops as _t
    # run the same frame logic on the planted doc via a temp view twin:
    from pyspark.sql import functions as F

    toks = F.split("text", " ")
    k = F.size("toks") - 1
    bg = (
        planted.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(F.sequence(F.lit(1), k)).alias("i"))
        .select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    g = (
        F.pmod(
            F.conv(F.substring(F.md5(F.concat("w1", F.lit(">"), "w2")), 1, 8), 16, 10).cast("long"),
            F.lit(2),
        )
        == 0
    ).cast("long")
    agg = bg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), F.sum(g).alias("ng")).first()
    assert agg["ng"] == agg["n"] == 40  # all-green chain
    z = (2.0 * agg["ng"] - agg["n"]) / (agg["n"] ** 0.5)
    assert z > 6  # sqrt(40) ≈ 6.32 — decisively flagged


def test_dsir_enriches_target_language(spark, sf_dir):
    """The importance-weighted top-50 must over-represent the target
    language by at least 2x its corpus share — if the ratio model
    didn't tilt the selection the whole operator would be a no-op."""
    from insurance_claim_data_pipeline_spark.operators.textops import (
        DSIR_TARGET_LANG,
        text_dsir_importance,
    )
    from insurance_claim_data_pipeline_spark.session import load_table

    top = text_dsir_importance(spark, "/root/testdata/sf0.01").collect()
    assert len(top) == 50
    share_top = sum(1 for r in top if r["lang"] == DSIR_TARGET_LANG) / len(top)
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    share_corpus = docs.filter(f"lang = '{DSIR_TARGET_LANG}'").count() / docs.count()
    assert share_top >= 2 * share_corpus, (share_top, share_corpus)


def test_blocking_budget_monotone_in_key_specificity(spark, sf_dir):
    """More specific blocking keys must never produce MORE candidate
    pairs: name_token1 ⊇ name_full ⊇ name_brand in pair budget; all
    budgets are strictly below all-pairs; bookkeeping identity on ppm."""
    from insurance_claim_data_pipeline_spark.operators.dedup import er_blocking_budget

    rows = {r["scheme"]: r for r in er_blocking_budget(spark, sf_dir).collect()}
    assert set(rows) == {"name_token1", "name_full", "name_brand"}
    assert (
        rows["name_token1"]["cand_pairs"]
        >= rows["name_full"]["cand_pairs"]
        >= rows["name_brand"]["cand_pairs"]
    )
    for r in rows.values():
        assert r["cand_pairs"] < r["all_pairs"]
        assert r["budget_ppm"] == r["cand_pairs"] * 1_000_000 // r["all_pairs"]


def test_pointer_jump_depth_and_path_bounds(spark, sf_dir):
    """In the heap-shaped tree, depth(u) = floor(log2(u)) exactly, and
    every path sum is at least own + root counts and at most the total
    event count."""
    import math

    from insurance_claim_data_pipeline_spark.operators.graph import (
        graph_pointer_jump_rollup,
    )
    from insurance_claim_data_pipeline_spark.session import load_table

    counts = {
        r["user_id"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .filter("user_id >= 1")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    total = sum(counts.values())
    rows = graph_pointer_jump_rollup(spark, sf_dir).collect()
    assert len(rows) == len(counts)
    for r in rows:
        u = r["user_id"]
        assert r["depth"] == int(math.log2(u))
        lo = counts[u] + (counts.get(1, 0) if u != 1 else 0)
        assert lo <= r["path_sum"] <= total


def test_prf_expansion_buys_recall(spark, sf_dir):
    """The expanded query's top-k must (a) contain docs the original
    BM25 top-k missed (the recall the feedback loop bought) and (b)
    retain a quarter of the feedback docs (on this corpus the uniform
    vocabulary makes the rerank aggressive — expansion terms carry
    idf comparable to the query terms — so full precision retention
    is not attainable and not asserted)."""
    from insurance_claim_data_pipeline_spark.operators.textops import (
        PRF_FEEDBACK_K,
        PRF_TOPK,
        sim_prf_query_expansion,
        text_bm25_topk,
    )

    rows = sim_prf_query_expansion(spark, sf_dir).collect()
    assert len(rows) == PRF_TOPK
    assert any(not r["in_pass1"] for r in rows)  # bought recall
    fb = {
        r["doc_id"]
        for r in text_bm25_topk(spark, sf_dir).limit(PRF_FEEDBACK_K).collect()
    }
    kept = sum(1 for r in rows if r["doc_id"] in fb)
    assert kept >= PRF_FEEDBACK_K // 4
    scores = [r["score2_e6"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_semantic_lsh_recall_gate(spark, sf_dir):
    """The LSH-bucketed semantic-dedup pair stage must recover ≥95% of
    the brute-force cosine near-dup pairs (the recall gate VERDICT r04
    asked for when registering the scale path). Measured on the current
    fixtures: 0.98–1.00 at every SF (see the operator docstring for the
    near-random-embeddings regime discussion)."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        dedup_embedding_cosine,
        semantic_lsh_candidate_pairs,
    )

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in semantic_lsh_candidate_pairs(spark, sf_dir).collect()
    }
    assert exact, "fixture must contain near-dup pairs for the gate to bind"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"LSH pair recall {recall:.3f} < 0.95"
    # precision is exact by construction: every surviving pair passed the
    # same rounded-cosine threshold the brute-force stage applies
    assert lsh <= exact


def test_semantic_lsh_pruning_gate_production_regime(spark, sf_dir):
    """VERDICT r05 item 3: the pruning claim at production thresholds
    (≥0.9) must be ASSERTED, not narrated. dedup_semantic_lsh_pruning
    plants deterministic near-dup twins (cos ≥ √0.96 ≈ 0.9798) over the fixture
    corpus and runs the banded hyperplane LSH at threshold 0.9 with the
    production bank (12 bands × 10 bits): recall vs the brute-force
    ground truth must stay ≥0.99 while candidates shrink ≥10× vs all
    pairs. Measured: recall 1.000, pruning 60.6× (sf0.001) / 64.2×
    (sf0.01) / 64.1× (sf0.1)."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        dedup_semantic_lsh_pruning,
    )

    row = dedup_semantic_lsh_pruning(spark, sf_dir).collect()[0]
    assert row["n_exact"] > 0, "fixture must contain planted near-dup pairs"
    assert row["recall_ppm"] >= 990_000, f"recall {row['recall_ppm']} ppm < 0.99"
    assert row["pruning_x100"] >= 1_000, (
        f"pruning {row['pruning_x100'] / 100:.1f}x < 10x: the candidate set "
        f"is {row['n_candidates']} of {row['n_total_pairs']} pairs"
    )


def test_semantic_lsh_components_match_exact_when_recall_full(spark, sf_dir):
    """When the candidate stage recovers every brute-force pair (true on
    the sf0.001 fixture), the downstream components/keep flags must be
    IDENTICAL to dedup_semantic_components — the two variants differ
    only in candidate generation."""
    from insurance_claim_data_pipeline_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_semantic_components,
        dedup_semantic_components_lsh,
        semantic_lsh_candidate_pairs,
    )

    exact_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in semantic_lsh_candidate_pairs(spark, sf_dir).collect()
    }
    if lsh_pairs != exact_pairs:
        import pytest

        pytest.skip("fixture recall < 1.0 — component equality not implied")
    a = sorted(map(tuple, dedup_semantic_components(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_semantic_components_lsh(spark, sf_dir).collect()))
    assert a == b
