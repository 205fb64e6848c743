"""MinHash LSH contract at the oracle (K=8) and production (K=64)
signature sizes — docs with identical shingle sets surface as
est_jaccard 1.0 pairs, and disjoint docs never pair — plus the
curation dedup operators' planted-fixture contracts."""

from __future__ import annotations

from comperhensive_bigdata_analysis__spark.operators.dedup import minhash_lsh_pairs


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in df.collect()}


def _fixture(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "completely different text about distributed query engines and shuffles"
    rows = [
        (1, a),
        (2, a),  # exact dup of 1
        (3, a + " extra tail tokens appended here"),  # near dup of 1
        (4, b),
        (5, b),  # exact dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tiers_agree_on_known_dups(spark):
    """K=8 oracle tier on the known-dup fixture; test_k64_production_tier
    holds the K=64 tier to the same contract."""
    d = _fixture(spark)
    got = _pairs(minhash_lsh_pairs(d, "doc_id", "text", min_est=0.0))
    assert got[(1, 2)] == 1.0
    assert got[(4, 5)] == 1.0
    assert (1, 4) not in got and (1, 5) not in got  # disjoint content
    assert all(a < b for a, b in got)
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_k64_production_tier(spark):
    """K=64/16-band production signature honors the same contract, with
    tighter est_jaccard: exact dups still 1.0, near-dups estimated
    within sd ~ sqrt(j(1-j)/64) of the small-K estimate's target band,
    disjoint docs absent."""
    from comperhensive_bigdata_analysis__spark.operators.dedup import (
        MINHASH_BANDS_PROD,
        MINHASH_K_PROD,
    )

    d = _fixture(spark)
    got = _pairs(
        minhash_lsh_pairs(
            d,
            "doc_id",
            "text",
            k=MINHASH_K_PROD,
            bands=MINHASH_BANDS_PROD,
            min_est=0.0,
        )
    )
    assert got[(1, 2)] == 1.0
    assert got[(4, 5)] == 1.0
    assert (1, 4) not in got and (1, 5) not in got
    # near-dup (1,3): true jaccard ~ 12/(12+4)=0.75; K=64 estimate
    # must land within 4 sd (~0.22) of it
    assert abs(got[(1, 3)] - 0.75) < 0.25
    # est granularity is 1/64 steps
    assert all(round(v * MINHASH_K_PROD, 6) == round(v * MINHASH_K_PROD) for v in got.values())


def test_semantic_greedy_bounded_by_census(spark, sf_dir):
    """The census's any-lower-id-duplicate rule must UPPER-BOUND the
    true sequential greedy per cluster (ADVICE r6: chain A~B, B~C with
    A!~C — greedy keeps C, census prunes it), with identical member
    counts and the kept/pruned identity holding on both plans."""
    from comperhensive_bigdata_analysis__spark.plans.ml import (
        semantic_dedup_census,
        semantic_dedup_greedy,
    )

    census = {
        r["cluster"]: r for r in semantic_dedup_census(spark, sf_dir).collect()
    }
    greedy = {
        r["cluster"]: r for r in semantic_dedup_greedy(spark, sf_dir).collect()
    }
    assert set(census) == set(greedy)
    for c in census:
        assert census[c]["n_members"] == greedy[c]["n_members"]
        assert greedy[c]["n_pruned_greedy"] <= census[c]["n_pruned"]
        assert (
            greedy[c]["n_kept"] + greedy[c]["n_pruned_greedy"]
            == greedy[c]["n_members"]
        )



def test_exact_substr_spans_reassemble_duplicates(spark, tmp_path):
    """Invariant: a whole-document duplicate must surface as ONE span
    covering every token (every stride-1 window repeats corpus-wide, so
    the island merge reassembles the full document); a doc sharing only
    a 16-token passage gets exactly that passage; a unique doc is
    absent."""
    from pyspark.sql import functions as F

    from comperhensive_bigdata_analysis__spark import plans

    shared = " ".join(f"tok{i}" for i in range(16))
    dup = " ".join(f"dup{i}" for i in range(20))
    rows = [
        (1, dup, "en", "s1", len(dup)),
        (2, dup, "en", "s1", len(dup)),
        (3, shared + " unique tail words here", "en", "s2", 0),
        (4, "leading words " + shared, "en", "s2", 0),
        (5, "entirely unique document with no repeats at all", "en", "s3", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_token_mass"])
        for r in plans.QUERIES["exact_substr_spans"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (1, 20) and got[2] == (1, 20)  # full-doc coverage
    assert got[3] == (1, 16) and got[4] == (1, 16)  # just the passage
    assert 5 not in got



def test_winnowing_guarantee_on_planted_pairs(spark, tmp_path):
    """The winnowing guarantee (Schleimer et al. 2003): any substring
    of length >= k + w - 1 shared between two documents yields at least
    one shared fingerprint. Five doc pairs each share a distinct
    ~40-char passage; passage and noise alphabets are disjoint per pair
    (and survive the plan's lower()), so no 5-gram can collide across
    pairs — the plan must rank exactly the five planted pairs."""
    from comperhensive_bigdata_analysis__spark import plans

    rows = []
    noise_letters = "abcdefghij"
    passage_letters = "KLMNO"
    for p in range(5):
        u = passage_letters[p]
        shared = " ".join(f"{u * 4}{d}{u * 4}" for d in "123")
        assert len(shared) >= 29
        for side in range(2):
            c = noise_letters[p * 2 + side]
            noise = (c * 7 + " ") * 6
            rows.append((p * 2 + side, noise + shared + " " + noise, "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in plans.QUERIES["winnowing_fingerprint_pairs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)}


def test_exact_substr_scrub_removes_planted_spans(spark, tmp_path):
    """Production scrub contract: whole-document duplicates scrub to
    empty text; docs sharing only a passage lose exactly that passage
    (original case preserved); unique docs come back verbatim."""
    from pyspark.sql import functions as F

    from comperhensive_bigdata_analysis__spark.operators.curation import (
        exact_substr_scrub,
    )

    shared = " ".join(f"Tok{i}" for i in range(16))
    dup = " ".join(f"Dup{i}" for i in range(20))
    rows = [
        (1, dup), (2, dup),
        (3, shared + " Unique tail words"),
        (4, "Leading other words " + shared),
        (5, "Entirely unique document with no repeats"),
        (6, None),  # missing text stays NULL, not '' (ADVICE r7)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_scrubbed"]
        for r in exact_substr_scrub(docs, "doc_id", "text").collect()
    }
    assert got[1] == "" and got[2] == ""
    assert got[3] == "Unique tail words"
    assert got[4] == "Leading other words"
    assert got[5] == "Entirely unique document with no repeats"
    assert got[6] is None


def test_exact_substr_scrub_spanless_docs_verbatim(spark):
    """A doc with no duplicated span must come back BYTE-verbatim, not
    whitespace-normalized: rebuilding span-less docs from tokens made a
    whitespace-only-but-not-space text ("\\t\\n": space-only trim keeps
    it, \\s+ split yields empty-string tokens) lose token count, so the
    scrub census disagreed with its oracle's span arithmetic (r12
    torture-corpus audit)."""
    from comperhensive_bigdata_analysis__spark.operators.curation import (
        exact_substr_scrub,
    )

    rows = [
        (1, "oddly   spaced    unique text"),
        (2, "\t\n  \t"),
        (3, "tab\tseparated\tunique\twords"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_scrubbed"]
        for r in exact_substr_scrub(docs, "doc_id", "text").collect()
    }
    assert got == {k: t for k, t in rows}


def test_semdedup_salt_union_matches_recall_flags(spark, sf_dir):
    """The production 2-salt edge union (semdedup_dup_edges) must find
    exactly the truth pairs the recall plan flags as covered — and the
    rotated salt must never LOSE pairs (recall monotone in salts)."""
    from comperhensive_bigdata_analysis__spark.plans.ml import (
        semdedup_dup_edges,
        semdedup_salt_recall,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    rows = {
        r["tier"]: r for r in semdedup_salt_recall(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "embeddings")
    n1 = semdedup_dup_edges(e, ("",)).count()
    n2 = semdedup_dup_edges(e, ("", "r1")).count()
    assert n1 == rows["salts_1"]["n_found"]
    assert n2 == rows["salts_2"]["n_found"]
    assert rows["salts_2"]["recall"] >= rows["salts_1"]["recall"]


def test_winnowing_cap_keeps_planted_pairs_in_boilerplate_swamp(spark, tmp_path):
    """The recall-on-true-copies evidence for the WINNOW_MAX_DF cap
    (VERDICT r8 ask #6): 40 documents all share the SAME boilerplate
    header/footer (df = 40 >> cap, so every boilerplate fingerprint is
    dropped), and five pairs additionally share a distinct planted
    passage (df = 2 <= cap, so passage fingerprints survive). The
    capped census must rank EXACTLY the five planted pairs — the cap
    removes the boilerplate cross-product (uncapped, all C(40,2) = 780
    pairs would clear the >= 3 bar) without losing one true copy pair."""
    from comperhensive_bigdata_analysis__spark import plans
    from comperhensive_bigdata_analysis__spark.plans.dedup import (
        WINNOW_MAX_DF,
        winnowing_pairs_at,
    )

    boiler = "zzzz1zzzz zzzz2zzzz zzzz3zzzz zzzz4zzzz"  # shared by ALL docs
    passage_letters = "KLMNO"
    rows = []
    for doc_id in range(40):
        body = f"u{doc_id:02d}u " * 6  # per-doc unique filler
        if doc_id < 10:  # five planted pairs: (0,1) (2,3) ... (8,9)
            u = passage_letters[doc_id // 2]
            body += " ".join(f"{u * 4}{d}{u * 4}" for d in "123")
        rows.append((doc_id, f"{boiler} {body} {boiler}", "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in plans.QUERIES["winnowing_fingerprint_pairs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)}
    # the swamp premise holds: uncapped, the boilerplate cross-product
    # swamps the census (hits the top-20 limit with non-planted pairs)
    uncapped = winnowing_pairs_at(spark, str(tmp_path), max_df=None).collect()
    assert len(uncapped) == 20
    assert {(r["id_a"], r["id_b"]) for r in uncapped} - got
    # and the oracled survival eval sees the same counts: 780 uncapped
    # pairs, 5 kept -> 5 * 1e6 DIV 780 = 6410 ppm
    ev = plans.QUERIES["winnowing_cap_recall"](spark, str(tmp_path)).collect()[0]
    assert ev["max_df"] == WINNOW_MAX_DF
    assert ev["n_true_pairs"] == 780
    assert ev["n_kept_pairs"] == 5
    assert ev["recall_ppm"] == 5 * 1000000 // 780


def test_min_est_accepts_any_real_scalar(spark):
    """The est_jaccard threshold is a typed literal, so numpy scalars
    and Decimals filter exactly like the equal float."""
    from decimal import Decimal

    import numpy as np

    d = _fixture(spark)
    want = _pairs(minhash_lsh_pairs(d, "doc_id", "text", min_est=0.5))
    assert (1, 2) in want and (1, 4) not in want
    for threshold in (np.float64(0.5), np.float32(0.5), Decimal("0.5")):
        got = _pairs(minhash_lsh_pairs(d, "doc_id", "text", min_est=threshold))
        assert got == want, threshold
