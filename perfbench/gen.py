"""Seeded inputs for the benchmark workloads.

Everything the program reads is generated here from the workload seed, so
a run never depends on data outside its checkout, and the same seed gives
byte-identical inputs. Row counts depend only on the scale, never on the
seed, so every seed asks the program for the same amount of work.

- ``write_tables``: the ten tables the registry queries read (a
  TPC-H-shaped star plus ``events``, ``documents`` and ``embeddings``) with
  the column names, types and value domains the queries expect.
- ``fastq_records`` / ``sam_records``: sequencing reads and alignments,
  with ``*_expected`` constants computed from the same records.
- ``write_bgzf``: a BGZF (blocked gzip) writer independent of the
  program's own, for the compressed FASTQ scan.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    """n random midnight timestamps (microseconds) in [first, last]."""
    epoch = dt.date(1970, 1, 1)
    lo, hi = (first - epoch).days, (last - epoch).days
    us = rng.integers(lo, hi + 1, n, dtype=np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten input tables at scale factor ``sf`` (sf 1 = 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    t["events"] = events_table(rng, 0, n_ev, n_users=max(100, int(15_000 * sf)))
    t["documents"] = documents_table(rng, 0, n_doc)
    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def events_table(rng, first_id: int, n: int, n_users: int) -> pa.Table:
    """``n`` events with ids from ``first_id``, time-ordered over January 2024."""
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng, first_id: int, n: int) -> pa.Table:
    """``n`` documents with ids from ``first_id``: random word sequences,
    about 5% near-duplicates (an earlier text plus ``" dup"``) and a few
    exact duplicates, so dedup and near-dup queries have work to find."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    kinds = rng.random(n)
    for i in range(n):
        if i > 0 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float, fact_dirs: tuple = ()) -> None:
    """Write every input table as ``<name>.parquet``; tables named in
    ``fact_dirs`` become directories holding one ``part-00000.parquet``,
    the shape incremental refresh appends new files to."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in fact_dirs:
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(table, path)


# --- sequencing reads and alignments ----------------------------------------

_BASES = np.frombuffer(b"ACGT", dtype=np.uint8)


def fastq_records(seed: int, n: int) -> list[tuple[str, str, str]]:
    """(read_id, sequence, quality) with lengths 50-150 and Phred+33 quals."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(50, 151, n)
    total = int(lengths.sum())
    seq = _BASES[rng.integers(0, 4, total)].tobytes().decode()
    qual = (rng.integers(0, 42, total) + 33).astype(np.uint8).tobytes().decode()
    out, off = [], 0
    for i, ln in enumerate(lengths):
        out.append((f"r{seed}_{i:07d}", seq[off:off + ln], qual[off:off + ln]))
        off += ln
    return out


def fastq_text(records) -> str:
    return "".join(f"@{rid}\n{seq}\n+\n{q}\n" for rid, seq, q in records)


def fastq_expected(records) -> dict[str, int]:
    return {
        "n_reads": len(records),
        "sum_len": sum(len(s) for _, s, _ in records),
        "sum_qual": sum(sum(q.encode()) - 33 * len(q) for _, _, q in records),
    }


SAM_REFS = [("chr1", 400_000), ("chr2", 250_000), ("chr3", 100_000)]
_CIGARS = [("{m}M", 0, 0), ("{a}M2I{b}M", 0, 2), ("{a}M3D{b}M", 3, 0), ("5S{c}M", 0, 5)]


def sam_records(seed: int, n: int) -> list[tuple]:
    """(read_id, flag, ref, pos, mapq, cigar, span) with mixed CIGAR ops."""
    rng = np.random.default_rng(seed + 1)
    flags = np.array([0, 16, 99, 147, 83, 163, 256, 2048])
    fl = flags[rng.integers(0, len(flags), n)]
    refs = rng.integers(0, len(SAM_REFS), n)
    lens = rng.integers(40, 121, n)
    shapes = rng.integers(0, len(_CIGARS), n)
    mapq = rng.integers(0, 61, n)
    out = []
    for i in range(n):
        name, ref_len = SAM_REFS[refs[i]]
        m = int(lens[i])
        shape, dels, ins = _CIGARS[shapes[i]]
        a = m // 2
        cigar = shape.format(m=m, a=a, b=m - a - ins, c=m - ins)
        span = m - ins + dels
        pos = 1 + int(rng.integers(0, ref_len - span))
        out.append((f"a{seed}_{i:07d}", int(fl[i]), name, pos, int(mapq[i]), cigar, span))
    return out


def sam_text(records) -> str:
    lines = ["@HD\tVN:1.6\tSO:unsorted"]
    lines += [f"@SQ\tSN:{name}\tLN:{ln}" for name, ln in SAM_REFS]
    lines += [
        f"{rid}\t{flag}\t{ref}\t{pos}\t{mq}\t{cig}\t*\t0\t0\t*\t*"
        for rid, flag, ref, pos, mq, cig, _span in records
    ]
    return "\n".join(lines) + "\n"


def sam_expected(records) -> dict[str, int]:
    """Aggregates the scan ops compare against, computed from the records."""
    return {
        "n": len(records),
        "sum_pos": sum(r[3] for r in records),
        "sum_stop": sum(r[3] + r[6] for r in records),
        "n_reverse": sum(1 for r in records if r[1] & 16),
        "n_secondary": sum(1 for r in records if r[1] & 256),
        "n_supplementary": sum(1 for r in records if r[1] & 2048),
        "n_paired": sum(1 for r in records if r[1] & 1),
        # query length: CIGAR M/I/S/=/X lengths
        "sum_qlen": sum(
            int(n) for r in records for n, op in re.findall(r"(\d+)([MIDNSHP=X])", r[5])
            if op in "MIS=X"
        ),
    }


def covered_bases(records) -> dict[str, int]:
    """Per-reference count of positions covered by at least one
    alignment (1-based closed start, exclusive stop)."""
    out = {}
    for name, ln in SAM_REFS:
        cov = np.zeros(ln + 2, dtype=np.int32)
        for r in records:
            if r[2] == name:
                cov[r[3]] += 1
                cov[r[3] + r[6]] -= 1
        out[name] = int((np.cumsum(cov) > 0).sum())
    return out


def write_bgzf(path: str, data: bytes, block: int = 60_000) -> None:
    """BGZF: gzip members of at most 64 KiB carrying the BC extra field,
    then the standard 28-byte EOF member."""
    with open(path, "wb") as fh:
        for off in range(0, len(data), block):
            chunk = data[off:off + block]
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = c.compress(chunk) + c.flush()
            bsize = len(body) + 25
            fh.write(b"\x1f\x8b\x08\x04" + b"\x00" * 4 + b"\x00\xff\x06\x00BC\x02\x00")
            fh.write(struct.pack("<H", bsize) + body)
            fh.write(struct.pack("<II", zlib.crc32(chunk), len(chunk)))
        fh.write(bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000"))
