"""Corpus-prep operators: planted-PII redaction, packing invariants,
decontamination semantics (the behaviors the corpus-level driver check
can't exercise because the synthetic corpus has no PII / no leakage)."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_pii_scrub_planted(spark):
    from mta_rtf_dbt_spark.operators.textprep import pii_scrub

    rows = [
        (1, "contact alice.smith+x@example.co.uk or call 212-555-1234 now"),
        (2, "server at 10.0.255.7 responded; mirror at 192.168.1.1"),
        (3, "no pii here at all"),
        (4, "bob@host.org met bob@other.io at 1.2.3.4 phone 987 654 3210"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scrub(df).collect()}

    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (1, 1, 0)
    assert "<EMAIL>" in out[1].clean_text and "<PHONE>" in out[1].clean_text
    assert "alice" not in out[1].clean_text and "555" not in out[1].clean_text

    assert out[2].n_ipv4 == 2 and out[2].clean_text.count("<IPV4>") == 2
    assert out[3].clean_text == "no pii here at all"
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (2, 1, 1)


def test_pii_scrub_cross_engine_parity(spark, duck, tmp_path):
    """The driver corpus contains no PII, so its check only proves the
    no-match identity path. This fixture plants matches and runs the SAME
    oracle SQL in DuckDB over the same parquet — proving the Java-regex /
    RE2 dialect parity claim on text that actually matches."""
    import pandas as pd

    import __spark_entry__ as e
    from tests.oracle_harness import compare

    rows = [
        (1, "contact alice.smith+x@example.co.uk or call 212-555-1234 now"),
        (2, "server at 10.0.255.7 responded; mirror at 192.168.1.1"),
        (3, "no pii here at all"),
        (4, "bob@host.org met bob@other.io at 1.2.3.4 phone 987 654 3210"),
        (5, "edge cases: a@b.co 1.2.3.4.5 999-123-456 x@y.z"),
    ]
    path = str(tmp_path / "documents.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)
    duck.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    from mta_rtf_dbt_spark.operators.textprep import pii_scrub

    out = pii_scrub(spark.read.parquet(path))
    errs = compare("pii_planted", out, duck, e.oracle_sql()["text_pii_scrub"])
    assert not errs, "\n".join(errs)


def test_pack_sequences_invariants(spark):
    from mta_rtf_dbt_spark.operators.textprep import pack_sequences
    from mta_rtf_dbt_spark.sources.registry import load

    docs = load(spark, SF, "documents")
    packed = pack_sequences(docs, max_len=512, bucket_size=16).orderBy("doc_id")
    rows = packed.collect()
    assert len(rows) == docs.count()
    # stream positions are a contiguous prefix sum in doc_id order
    expect_start = 0
    for r in rows:
        assert r.global_start == expect_start, (r.doc_id, r.global_start, expect_start)
        assert r.seq_id == r.global_start // 512
        assert r.offset_in_seq == r.global_start % 512
        expect_start += r.n_tokens
    # bucket phase must not depend on bucket size: same result with a
    # different bucketing (exercises the two-phase prefix-sum offsets)
    alt = pack_sequences(docs, max_len=512, bucket_size=7).orderBy("doc_id").collect()
    assert [tuple(r) for r in alt] == [tuple(r) for r in rows]


def test_decontaminate_containment_asymmetry(spark):
    """A short test doc fully embedded in a long train doc must score
    containment 1.0 even though its Jaccard vs that doc is low."""
    from mta_rtf_dbt_spark.operators.dedup import shingles
    from mta_rtf_dbt_spark.operators.textprep import contamination_pairs

    train_text = " ".join(f"w{i}" for i in range(200)) + " the secret eval answer here"
    rows = [
        (10, "the secret eval answer here"),   # test doc, fully contained
        (11, "totally unrelated fresh tokens"),  # test doc, clean
        (50, train_text),
        (51, "other training content entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(docs, 3)
    test_sh = sh.filter(F.col("doc_id") < 20)
    train_sh = sh.filter(F.col("doc_id") >= 50)
    found = {
        (r.test_doc, r.train_doc): r.containment
        for r in contamination_pairs(test_sh, train_sh, 0.5).collect()
    }
    assert found.get((10, 50)) == 1.0
    assert not any(t == 11 for t, _ in found)


def test_duplicated_spans_planted(spark):
    """Two docs share a 10-token run (-> one merged span of overlapping
    8-grams in each); a third doc shares nothing. Within-doc repetition
    alone must NOT count (cross-doc means distinct docs)."""
    from mta_rtf_dbt_spark.operators.textprep import duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} seven eight nine ten eleven twelve"),
            (3, "completely different words here with no overlap at all present today"),
            (4, "rep rep rep rep rep rep rep rep rep rep rep rep"),  # self-repeat only
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in duplicated_spans(docs, 8).collect()}
    # doc 1: shared run at positions 4..13 -> grams 4..6 -> one span of 10 tokens
    assert rows[1].dup_spans == 1 and rows[1].dup_tokens == 10
    assert rows[1].dup_ppm == 10 * 1_000_000 // rows[1].n_tokens
    assert rows[2].dup_spans == 1 and rows[2].dup_tokens == 10
    assert rows[3].dup_spans == 0 and rows[3].dup_tokens == 0 and rows[3].dup_ppm == 0
    assert rows[4].dup_spans == 0  # same-doc repeats are not cross-doc dup


def test_line_dedup_keep_first(spark):
    """Planted boilerplate: the same 10-token line in three docs survives
    only at its earliest (doc_id, pos) key; unique lines are untouched and
    reconstruction preserves within-doc line order."""
    from mta_rtf_dbt_spark.operators.textprep import line_dedup

    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    uniq = {d: f"u{d}0 u{d}1 u{d}2 u{d}3 u{d}4 u{d}5 u{d}6 u{d}7 u{d}8 u{d}9" for d in (1, 2, 3)}
    rows = [
        (1, f"{uniq[1]} {boiler}"),          # boiler at pos 1: kept (first key)
        (2, f"{boiler} {uniq[2]}"),          # boiler at pos 0 of doc 2: dropped
        (3, f"{uniq[3]} {boiler} tail"),     # dropped; short 'tail' line unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df).collect()}

    assert (out[1].n_lines, out[1].n_kept) == (2, 2)
    assert out[1].cleaned_text == f"{uniq[1]} {boiler}"
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)
    assert out[2].cleaned_text == uniq[2]
    assert (out[3].n_lines, out[3].n_kept) == (3, 2)
    assert out[3].cleaned_text == f"{uniq[3]} tail"


def test_bloom_screen_no_false_negatives(spark):
    """One-sided error: every training doc that actually shares a shingle
    with the held-out split MUST be screened in (Bloom filters have no
    false negatives); planted leak included."""
    from mta_rtf_dbt_spark.operators.dedup import shingles
    from mta_rtf_dbt_spark.operators.textprep import bloom_screen

    rows = [
        (10, "the quick brown fox jumps over the lazy dog today"),  # heldout
        (20, "completely different words about spark and parquet files"),  # heldout
        (1, "someone said the quick brown fox jumps over fences"),  # leak of 10
        (2, "unrelated text with nothing shared at all here"),
        (3, "another clean training document mentioning parquet files only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(docs, 3)
    out = {r.doc_id: r for r in bloom_screen(sh, lambda d: d % 10 == 0).collect()}

    # exact shared-shingle ground truth
    held = sh.filter(F.col("doc_id") % 10 == 0).select("shingle").distinct()
    shared = {
        r.doc_id
        for r in sh.filter(F.col("doc_id") % 10 != 0)
        .join(held, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert 1 in shared  # the planted leak really shares shingles
    assert shared <= set(out), (shared, set(out))  # no false negatives
    for d in shared:
        assert out[d].n_bloom_hits >= 1
