"""Gap-affine pairwise alignment scalars: ``align_pairwise_score`` /
``_cigar`` / ``_full``.

Parity target: reference src/align_pairwise_functions.cpp:17-70 (bind,
defaults wfa2/4/6/2, constant-penalty validation) and
src/WFA2Aligner.cpp:27-113 (semantics: match 0 / mismatch>0 penalties,
affine gap = open + extend·len, END-TO-END global alignment, score negated
to positive where 0 = identical, extended CIGAR with =/X, query is SAM
"read", subject is "reference" — I consumes query, D consumes subject).
Goldens: test/sql/align_pairwise.test.

Implementation: Gotoh dynamic programming (three-matrix affine) with
traceback — finds the same optimum as BiWFA for the same penalty model;
O(nm) time is fine for scalar-function-sized strings. Wrapped in
Arrow-batched pandas UDFs; penalties are plan-time constants as in the
reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


class PairwiseError(ValueError):
    pass


def _validate(method: str, mismatch: int, gap_open: int, gap_extend: int) -> None:
    if method != "wfa2":
        raise PairwiseError(f"Invalid method for align_pairwise: {method} (only 'wfa2')")
    if mismatch <= 0:
        raise PairwiseError("mismatch must be > 0")
    if gap_open < 0:
        raise PairwiseError("gap_open must be >= 0")
    if gap_extend <= 0:
        raise PairwiseError("gap_extend must be > 0")


def align_pair(
    query: str,
    subject: str,
    mismatch: int = 4,
    gap_open: int = 6,
    gap_extend: int = 2,
) -> tuple[int, str]:
    """(score, extended_cigar) for a global gap-affine alignment.

    Score is the total penalty (0 = identical). CIGAR ops: '=' match,
    'X' mismatch, 'I' gap in subject (consumes query), 'D' gap in query
    (consumes subject) — matching WFA2's pattern=subject/text=query
    convention (WFA2Aligner.cpp:55-63)."""
    n, m = len(query), len(subject)
    if n == 0 and m == 0:
        return 0, ""
    if n == 0:
        return gap_open + gap_extend * m, f"{m}D"
    if m == 0:
        return gap_open + gap_extend * n, f"{n}I"

    go, ge, mx = gap_open, gap_extend, mismatch
    NEG = -(1 << 60)  # integer -inf that survives additions
    # M: ends in match/mismatch; I: gap in subject (consumes query, vertical);
    # D: gap in query (consumes subject, horizontal). All scores ≤ 0 (penalties).
    M = [[NEG] * (m + 1) for _ in range(n + 1)]
    I_ = [[NEG] * (m + 1) for _ in range(n + 1)]
    D_ = [[NEG] * (m + 1) for _ in range(n + 1)]
    M[0][0] = 0
    for i in range(1, n + 1):
        I_[i][0] = max(M[i - 1][0] - go - ge, I_[i - 1][0] - ge)
    for j in range(1, m + 1):
        D_[0][j] = max(M[0][j - 1] - go - ge, D_[0][j - 1] - ge)
    for i in range(1, n + 1):
        qi = query[i - 1]
        Mi, Mi1 = M[i], M[i - 1]
        Ii, Ii1 = I_[i], I_[i - 1]
        Di = D_[i]
        for j in range(1, m + 1):
            sub = 0 if qi == subject[j - 1] else -mx
            a, b, c = Mi1[j - 1], Ii1[j - 1], D_[i - 1][j - 1]
            best = a if a >= b else b
            if c > best:
                best = c
            Mi[j] = best + sub
            o = Mi1[j] - go - ge
            e = Ii1[j] - ge
            Ii[j] = o if o >= e else e
            o = Mi[j - 1] - go - ge
            e = Di[j - 1] - ge
            Di[j] = o if o >= e else e

    ends = ((M[n][m], "M"), (I_[n][m], "I"), (D_[n][m], "D"))
    best_score = max(v for v, _ in ends)
    state = next(s for v, s in ends if v == best_score)  # M preferred on ties
    score = -best_score
    i, j = n, m
    ops: list[str] = []
    while i > 0 or j > 0:
        if state == "M":
            sub = 0 if query[i - 1] == subject[j - 1] else -mx
            ops.append("=" if sub == 0 else "X")
            target = M[i][j] - sub
            if M[i - 1][j - 1] == target:
                state = "M"
            elif I_[i - 1][j - 1] == target:
                state = "I"
            else:
                state = "D"
            i, j = i - 1, j - 1
        elif state == "I":
            ops.append("I")
            state = "M" if M[i - 1][j] - go - ge == I_[i][j] else "I"
            i -= 1
        else:
            ops.append("D")
            state = "M" if M[i][j - 1] - go - ge == D_[i][j] else "D"
            j -= 1
    ops.reverse()
    # run-length encode into extended CIGAR
    cigar_parts: list[str] = []
    run_op = ops[0]
    run_len = 1
    for op in ops[1:]:
        if op == run_op:
            run_len += 1
        else:
            cigar_parts.append(f"{run_len}{run_op}")
            run_op, run_len = op, 1
    cigar_parts.append(f"{run_len}{run_op}")
    return int(round(score)), "".join(cigar_parts)


def reconstruct_aligned(query: str, subject: str, cigar: str) -> tuple[str, str]:
    """Gapped query/subject strings from an extended CIGAR
    (WFA2Aligner.cpp reconstruct_aligned)."""
    qa: list[str] = []
    sa: list[str] = []
    qi = si = 0
    num = 0
    for ch in cigar:
        if ch.isdigit():
            num = num * 10 + int(ch)
            continue
        if ch in "=X":
            qa.append(query[qi : qi + num])
            sa.append(subject[si : si + num])
            qi += num
            si += num
        elif ch == "I":
            qa.append(query[qi : qi + num])
            sa.append("-" * num)
            qi += num
        elif ch == "D":
            qa.append("-" * num)
            sa.append(subject[si : si + num])
            si += num
        num = 0
    return "".join(qa), "".join(sa)


def align_pairwise_score(
    query: Column | str,
    subject: Column | str,
    method: str = "wfa2",
    mismatch: int = 4,
    gap_open: int = 6,
    gap_extend: int = 2,
) -> Column:
    """Alignment penalty (0 = identical); NULL in → NULL out."""
    _validate(method, mismatch, gap_open, gap_extend)

    @pandas_udf("int")
    def _udf(q: pd.Series, s: pd.Series) -> pd.Series:
        out = []
        for qv, sv in zip(q, s):
            if qv is None or sv is None:
                out.append(None)
            else:
                out.append(align_pair(str(qv), str(sv), mismatch, gap_open, gap_extend)[0])
        return pd.Series(out, dtype="Int32")

    qc = F.col(query) if isinstance(query, str) else query
    sc = F.col(subject) if isinstance(subject, str) else subject
    return _udf(qc, sc)


def align_pairwise_cigar(
    query: Column | str,
    subject: Column | str,
    method: str = "wfa2",
    mismatch: int = 4,
    gap_open: int = 6,
    gap_extend: int = 2,
) -> Column:
    """struct<score int, cigar string>; NULL in → NULL out."""
    _validate(method, mismatch, gap_open, gap_extend)

    @pandas_udf("score int, cigar string")
    def _udf(q: pd.Series, s: pd.Series) -> pd.DataFrame:
        scores, cigars = [], []
        for qv, sv in zip(q, s):
            if qv is None or sv is None:
                scores.append(None)
                cigars.append(None)
            else:
                sc_, cg = align_pair(str(qv), str(sv), mismatch, gap_open, gap_extend)
                scores.append(sc_)
                cigars.append(cg)
        return pd.DataFrame({"score": pd.Series(scores, dtype="Int32"), "cigar": cigars})

    qc = F.col(query) if isinstance(query, str) else query
    sc = F.col(subject) if isinstance(subject, str) else subject
    out = _udf(qc, sc)
    # NULL-in → NULL-out for the whole struct (reference returns SQL NULL)
    return F.when(qc.isNull() | sc.isNull(), F.lit(None)).otherwise(out)


def align_pairwise_full(
    query: Column | str,
    subject: Column | str,
    method: str = "wfa2",
    mismatch: int = 4,
    gap_open: int = 6,
    gap_extend: int = 2,
) -> Column:
    """struct<score, cigar, query_aligned, subject_aligned>."""
    _validate(method, mismatch, gap_open, gap_extend)

    @pandas_udf("score int, cigar string, query_aligned string, subject_aligned string")
    def _udf(q: pd.Series, s: pd.Series) -> pd.DataFrame:
        rows = []
        for qv, sv in zip(q, s):
            if qv is None or sv is None:
                rows.append((None, None, None, None))
            else:
                sc_, cg = align_pair(str(qv), str(sv), mismatch, gap_open, gap_extend)
                qa, sa = reconstruct_aligned(str(qv), str(sv), cg)
                rows.append((sc_, cg, qa, sa))
        df = pd.DataFrame(rows, columns=["score", "cigar", "query_aligned", "subject_aligned"])
        df["score"] = df["score"].astype("Int32")
        return df

    qc = F.col(query) if isinstance(query, str) else query
    sc = F.col(subject) if isinstance(subject, str) else subject
    out = _udf(qc, sc)
    return F.when(qc.isNull() | sc.isNull(), F.lit(None)).otherwise(out)
