"""Golden-value unit tests for the scalar domain layer, mirroring the
reference's sqllogic tests (alignment_functions.test, alignment_flags.test,
sequence_*.test, compress_intervals.test, woltka.test)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from duckdb_miint_spark.functions import (
    alignment_is_paired,
    alignment_is_primary,
    alignment_is_read1,
    alignment_is_supplementary,
    alignment_is_unmapped,
    alignment_query_coverage,
    alignment_query_length,
    alignment_seq_identity,
    compress_intervals,
    merge_intervals_py,
    parse_cigar,
    parse_md,
    register_flag_sql_udfs,
    sequence_dna_as_regexp,
    sequence_dna_reverse_complement,
    sequence_rna_reverse_complement,
)

WOLTKA_PARQUET = "/root/reference/data/sam/miint-woltka-test.parquet"


# --- pure-python parser goldens (reference test/sql/alignment_functions.test) ---


@pytest.mark.parametrize(
    "cigar,nm,md,itype,expected",
    [
        ("10M", 0, "", "gap_compressed", 1.0),
        ("10M", 2, "", "gap_compressed", 0.8),
        ("10M5I10M", 5, "", "gap_compressed", 20 / 21),
        ("10M3D10M", 3, "", "gap_compressed", 20 / 21),
        ("10M", 2, "", "blast", 0.8),
        ("10M5I5D", 12, "", "blast", 0.4),
        ("10M", None, "10", "gap_excluded", 1.0),
        ("10M", None, "5A4", "gap_excluded", 0.9),
        ("10M", None, "3A2T3", "gap_excluded", 0.8),
        ("5M2D4M", None, "5^AC4", "gap_excluded", 1.0),
        # Heng Li blog-post alignment (reference test lines ~100-117)
        ("18M3D2M2D2M1I22M", None, "14A3^CAG2^TG24", "gap_excluded", 43 / 44),
        ("18M3D2M2D2M1I22M", 7, None, "blast", 43 / 50),
        ("18M3D2M2D2M1I22M", 7, None, "gap_compressed", 43 / 47),
        ("*", 0, "", "gap_compressed", None),
        ("", 0, "", "gap_compressed", None),
        ("10M", None, None, "gap_compressed", None),  # missing NM
        ("10M", 11, "", "blast", None),  # NM > columns
    ],
)
def test_seq_identity_goldens(spark, cigar, nm, md, itype, expected):
    df = spark.createDataFrame([(cigar, nm, md)], "cigar string, nm long, md string")
    val = df.select(
        alignment_seq_identity("cigar", "nm", "md", itype).alias("x")
    ).collect()[0]["x"]
    if expected is None:
        assert val is None
    else:
        assert val == pytest.approx(expected, abs=1e-9)


def test_parse_cigar_gap_opens():
    st = parse_cigar("5I3I")
    assert st.gap_opens == 1
    st = parse_cigar("5I3M2I")
    assert st.gap_opens == 2
    st = parse_cigar("5I5D")  # I→D transition = new event
    assert st.gap_opens == 2


def test_parse_md():
    assert parse_md("10") == (10, 0)
    assert parse_md("5A4") == (9, 1)
    assert parse_md("3A2T3") == (8, 2)
    assert parse_md("5^AC4") == (9, 0)
    assert parse_md("14A3^CAG2^TG24") == (43, 1)


def test_query_length_and_coverage(spark):
    rows = [("10M",), ("5M2I3M4S",), ("3S10M4H",), ("*",), ("10M5H",)]
    df = spark.createDataFrame(rows, "cigar string")
    out = df.select(
        "cigar",
        alignment_query_length("cigar").alias("qlen"),
        alignment_query_length("cigar", include_hard_clips=False).alias("qlen_nohard"),
        alignment_query_coverage("cigar", "aligned").alias("cov_aligned"),
        alignment_query_coverage("cigar", "mapped").alias("cov_mapped"),
    ).collect()
    d = {r["cigar"]: r for r in out}
    assert d["10M"]["qlen"] == 10 and d["10M"]["cov_aligned"] == 1.0
    assert d["5M2I3M4S"]["qlen"] == 14
    assert d["5M2I3M4S"]["cov_aligned"] == pytest.approx(8 / 14)
    assert d["5M2I3M4S"]["cov_mapped"] == pytest.approx(10 / 14)
    assert d["3S10M4H"]["qlen"] == 17
    assert d["3S10M4H"]["qlen_nohard"] == 13  # bam_cigar2qlen semantics
    assert d["3S10M4H"]["cov_aligned"] == pytest.approx(10 / 17)
    assert d["*"]["qlen"] == 0 and d["*"]["cov_aligned"] == 0.0
    assert d["10M5H"]["qlen"] == 15 and d["10M5H"]["qlen_nohard"] == 10


# --- flags (reference src/alignment_flag_functions.cpp bit masks) ---


def test_flags(spark):
    df = spark.createDataFrame([(0x1,), (0x4,), (0x40,), (0x100,), (0x800,), (0x900,)], "flags int")
    out = df.select(
        "flags",
        alignment_is_paired("flags").alias("p"),
        alignment_is_unmapped("flags").alias("u"),
        alignment_is_read1("flags").alias("r1"),
        alignment_is_supplementary("flags").alias("sup"),
        alignment_is_primary("flags").alias("prim"),
    ).collect()
    d = {r["flags"]: r for r in out}
    assert d[0x1]["p"] and not d[0x1]["u"] and d[0x1]["prim"]
    assert d[0x4]["u"]
    assert d[0x40]["r1"]
    assert not d[0x100]["prim"]
    assert d[0x800]["sup"] and not d[0x800]["prim"]
    assert not d[0x900]["prim"]


def test_flag_sql_udfs(spark):
    register_flag_sql_udfs(spark)
    row = spark.sql(
        "SELECT alignment_is_read1(64) AS a, is_read2(128) AS b, "
        "alignment_is_primary(2048) AS c"
    ).collect()[0]
    assert row["a"] is True and row["b"] is True and row["c"] is False


# --- sequences (reference test/sql/sequence_*.test) ---


def test_reverse_complement(spark):
    rows = [("ACGT",), ("A",), ("acgtRYSWKMbdhvn.-",), ("",), (None,)]
    df = spark.createDataFrame(rows, "s string")
    out = df.select(sequence_dna_reverse_complement("s").alias("rc")).collect()
    vals = [r["rc"] for r in out]
    assert vals[0] == "ACGT"
    assert vals[1] == "T"
    # revcomp of acgtRYSWKMbdhvn.- : complement each (case-preserving, full
    # IUPAC, ./- self-map) then reverse
    comp = {"a": "t", "c": "g", "g": "c", "t": "a", "R": "Y", "Y": "R", "S": "S",
            "W": "W", "K": "M", "M": "K", "b": "v", "d": "h", "h": "d", "v": "b",
            "n": "n", ".": ".", "-": "-"}
    expected = "".join(comp[ch] for ch in "acgtRYSWKMbdhvn.-")[::-1]
    assert vals[2] == expected
    assert vals[3] == ""
    assert vals[4] is None


def test_reverse_complement_exact(spark):
    df = spark.createDataFrame([("AACGTT",), ("RYSWKM",), ("ryswkm",)], "s string")
    vals = [r[0] for r in df.select(sequence_dna_reverse_complement("s")).collect()]
    assert vals == ["AACGTT", "KMWSRY", "kmwsry"]


def test_rna_reverse_complement(spark):
    df = spark.createDataFrame([("ACGU",), ("U",)], "s string")
    vals = [r[0] for r in df.select(sequence_rna_reverse_complement("s")).collect()]
    assert vals == ["ACGU", "A"]


def test_dna_rejects_u(spark):
    df = spark.createDataFrame([("ACGU",)], "s string")
    with pytest.raises(Exception, match="Invalid DNA base"):
        df.select(sequence_dna_reverse_complement("s")).collect()


def test_as_regexp(spark):
    df = spark.createDataFrame([("ACGT",), ("RN",), ("a-c.g",)], "s string")
    vals = [r[0] for r in df.select(sequence_dna_as_regexp("s")).collect()]
    assert vals[0] == "ACGT"
    assert vals[1] == "[AG][ACGT]"
    assert vals[2] == "a.c.g"


# --- compress_intervals (reference test/sql/compress_intervals.test) ---


def test_merge_intervals_py():
    assert merge_intervals_py([(10, 20), (100, 120), (200, 220)]) == [
        (10, 20), (100, 120), (200, 220)]
    assert merge_intervals_py([(10, 110), (100, 220), (200, 300)]) == [(10, 300)]
    assert merge_intervals_py([(10, 50), (40, 80), (100, 150)]) == [(10, 80), (100, 150)]
    assert merge_intervals_py([(42, 100)]) == [(42, 100)]
    assert merge_intervals_py([(20, 10), (15, 25)]) == [(10, 25)]  # inverted swapped
    assert merge_intervals_py([(None, 5), (1, None)]) == []  # NULLs skipped
    assert merge_intervals_py([(1, 5), (5, 9)]) == [(1, 9)]  # touching merges


def test_compress_intervals_spark(spark):
    rows = [
        (1, 10, 20), (1, 15, 25), (1, 30, 40),
        (2, 100, 110), (2, 200, 210),
        (3, 20, 10),  # inverted
        (3, 15, 25),
    ]
    df = spark.createDataFrame(rows, "id int, start long, stop long")
    out = {
        r["id"]: [(x["start"], x["stop"]) for x in r["intervals"]]
        for r in compress_intervals(df, "start", "stop", ["id"]).collect()
    }
    assert out[1] == [(10, 25), (30, 40)]
    assert out[2] == [(100, 110), (200, 210)]
    assert out[3] == [(10, 25)]


def test_compress_intervals_islands_vs_driver_merge(spark):
    """The island pipeline (phase-0 aggregate, per-partition-id window,
    per-group window) must reproduce the driver-side reference merge on
    adversarial inputs: duplicate intervals, touching, nested, inverted,
    NULLs and many groups spread over several partitions."""
    import random

    from duckdb_miint_spark.functions.intervals import (
        compress_intervals_islands,
        merge_intervals_py,
    )

    rng = random.Random(9)
    rows = []
    for g in range(37):
        for _ in range(rng.randrange(1, 120)):
            a = rng.randrange(0, 500)
            b = a + rng.randrange(-30, 60)
            if rng.random() < 0.03:
                a = None
            if rng.random() < 0.03:
                b = None
            rows.append((f"g{g}", a, b))
    df = spark.createDataFrame(rows, "grp string, start long, stop long").repartition(7)

    out = compress_intervals_islands(df, "start", "stop", ["grp"]).collect()
    got = sorted((r["grp"], r["start"], r["stop"]) for r in out)
    expected = []
    by_group: dict = {}
    for g, a, b in rows:
        by_group.setdefault(g, []).append((a, b))
    for g, pairs in by_group.items():
        expected += [(g, s, e) for s, e in merge_intervals_py(pairs)]
    assert got == sorted(expected)


# --- woltka vs real Woltka tool goldens (reference test/sql/woltka.test:27-60) ---


@pytest.mark.skipif(not os.path.exists(WOLTKA_PARQUET), reason="reference data missing")
def test_woltka_goldens(spark):
    from duckdb_miint_spark.operators import woltka_ogu, woltka_ogu_per_sample

    sam = spark.read.parquet(WOLTKA_PARQUET)
    got = {
        r["feature_id"]: round(r["value"], 3)
        for r in woltka_ogu(sam, "read_id").collect()
    }
    expected = {
        "H000003450": 477.800, "H000000556": 849.086, "G002234575": 1302.833,
        "H000003668": 1468.333, "H000000425": 2165.002, "H000000962": 6509.969,
        "G012273055": 6638.369, "H000001008": 15743.819, "G025152275": 17770.333,
        "G000156075": 30911.302, "G016766915": 58468.152,
    }
    assert got == expected

    got_ps = {
        (r["sample_id"], r["feature_id"]): round(r["value"], 3)
        for r in woltka_ogu_per_sample(sam, "common_sample_name", "read_id").collect()
    }
    assert got_ps[("bar", "H000003450")] == 477.800
    assert got_ps[("foo", "G016766915")] == 15.500
    assert got_ps[("foo", "H000000556")] == 1.417
    assert got_ps[("bar", "G016766915")] == 58452.652
    assert len(got_ps) == 19


def test_woltka_from_base_matches_per_query_dedup(spark):
    """The dedup-at-ingest formulation (window COUNT over the distinct
    base — graft_b_woltka_base's serving shape, r14) must be
    row-identical to the per-query collect_set dedup on the same
    relation, for both operators. Fixed-point sums are order-free, so
    equality is exact; the float fold's terms are identical but the sum
    order is plan-dependent, so it compares at 1e-9 relative."""
    from duckdb_miint_spark.operators import (
        woltka_ogu,
        woltka_ogu_from_base,
        woltka_ogu_per_sample,
        woltka_ogu_per_sample_from_base,
    )
    from duckdb_miint_spark.queries_domain import ALN_SQL, WOLTKA_BASE_SQL

    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    aln = spark.sql(ALN_SQL)
    base = spark.sql(WOLTKA_BASE_SQL)
    pairs = [
        (
            woltka_ogu_per_sample(aln, "sample_id", "read_id", fixed_point=fp),
            woltka_ogu_per_sample_from_base(base, fixed_point=fp),
            fp,
        )
        for fp in (True, False)
    ] + [
        (
            woltka_ogu(aln, "read_id", fixed_point=fp),
            woltka_ogu_from_base(base, fixed_point=fp),
            fp,
        )
        for fp in (True, False)
    ]
    for per_query, from_base, fp in pairs:
        a = {tuple(r[:-1]): r[-1] for r in sorted(map(tuple, per_query.collect()))}
        b = {tuple(r[:-1]): r[-1] for r in sorted(map(tuple, from_base.collect()))}
        assert a.keys() == b.keys()
        if fp:
            assert a == b  # integer fold: bit-identical
        else:
            for k in a:
                assert b[k] == pytest.approx(a[k], rel=1e-9), k


# --- SQL surface registration (reference names callable from spark.sql) ------


def test_sql_surface(spark):
    from duckdb_miint_spark.functions.sql_registry import register_all_sql_functions

    register_all_sql_functions(spark)
    spark.createDataFrame(
        [(99, "ACGT", "10M2I3S", 1, "8A1")],
        "flags int, seq string, cigar string, nm long, md string",
    ).createOrReplaceTempView("sql_surface_t")
    row = spark.sql("""
        SELECT alignment_is_paired(flags) AS p,
               is_read1(flags) AS r1,
               alignment_is_primary(flags) AS prim,
               sequence_dna_reverse_complement(seq) AS rc,
               sequence_dna_as_regexp('RN') AS rx,
               alignment_seq_identity(cigar, nm, md, 'blast') AS ident,
               alignment_query_length(cigar, true) AS qlen,
               alignment_query_coverage(cigar, 'aligned') AS cov,
               align_pairwise_score(seq, 'ACAT') AS score,
               miint_version() AS v
        FROM sql_surface_t
    """).collect()[0]
    assert row["p"] is True and row["r1"] is True and row["prim"] is True
    assert row["rc"] == "ACGT"
    assert row["rx"] == "[AG][ACGT]"
    assert row["ident"] == (12 - 1) / 12  # columns=M+I=12, nm=1
    assert row["qlen"] == 15  # 10M + 2I + 3S
    assert row["cov"] == 10 / 15
    assert row["score"] == 4  # one mismatch at default penalties
    assert row["v"].startswith("0.")


def test_sql_surface_error_parity(spark):
    from duckdb_miint_spark.functions.sql_registry import register_all_sql_functions

    register_all_sql_functions(spark)
    with pytest.raises(Exception, match="Invalid DNA base"):
        spark.sql("SELECT sequence_dna_reverse_complement('ACGU')").collect()


def test_compress_intervals_null_group_parity(spark):
    from duckdb_miint_spark.functions.intervals import compress_intervals

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 4, 9), ("b", None, None)],
        "g string, start long, stop long",
    )
    default = compress_intervals(df, "start", "stop", ["g"])
    assert {r["g"] for r in default.collect()} == {"a"}
    exact = compress_intervals(df, "start", "stop", ["g"], emit_null_groups=True)
    rows = {r["g"]: r["intervals"] for r in exact.collect()}
    assert [ (i["start"], i["stop"]) for i in rows["a"] ] == [(1, 9)]
    assert rows["b"] is None  # reference: all-NULL group -> NULL list
