"""Seeded input generators for the three workloads.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical files, another seed different ones.
Each generator returns a ``props`` dict (input hash, distinct keys,
Zipf exponent, dup shares, batch sizes) that the run prints with its
result, so a reader can see which input a number was measured on.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word shapes: letters only, because every tokenizer in the program splits
# on [^a-zA-Z]+ and a digit would cut a word in two.
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# The documents table reuses the 31-word vocabulary of the reference test
# tables, so the quality/near-dup queries see the same repetition profile.
DOC_WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join batch sort value hash filter big data dup spark line "
    "small fast group customer"
).split()
EMB_DIM = 64


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    sub = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, sub])


def files_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct letter-only words of length 3..10."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(3, 11, size=n)
        chars = rng.choice(_LETTERS, size=(n, 10))
        for row, ln in zip(chars, lens):
            out.setdefault("".join(row[:ln]), None)
            if len(out) == n:
                break
    return list(out)


def zipf_ranks(rng: np.random.Generator, n_vocab: int, size: int, s: float) -> np.ndarray:
    """Ranks 0..n_vocab-1 drawn with P(r) ~ 1/(r+1)^s (bounded Zipf)."""
    w = 1.0 / np.arange(1, n_vocab + 1) ** s
    return rng.choice(n_vocab, size=size, p=w / w.sum())


# --------------------------------------------------------------------------
# mr_jobs: whole text files for read_whole_files -> run_job
# --------------------------------------------------------------------------


def make_mr_files(
    out_dir: str,
    seed: int,
    n_files: int,
    words_per_file: int,
    n_vocab: int,
    zipf_s: float = 1.1,
) -> tuple[list[str], dict]:
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "mr")
    vocab = np.array(vocabulary(rng, n_vocab))
    # every vocabulary word occurs at least once, so the number of reduce
    # groups is the same for every seed; the rest of the words are Zipf
    total = n_files * words_per_file
    if total < n_vocab:
        raise ValueError(f"{total} words cannot cover a {n_vocab}-word vocabulary")
    ranks = np.concatenate([np.arange(n_vocab), zipf_ranks(rng, n_vocab, total - n_vocab, zipf_s)])
    rng.shuffle(ranks)
    paths = []
    distinct: set[str] = set()
    for i in range(n_files):
        words = vocab[ranks[i * words_per_file : (i + 1) * words_per_file]]
        distinct.update(words.tolist())
        # ~12 words a line, separated by spaces and some punctuation runs
        seps = rng.choice(np.array([" ", " ", " ", ", ", ". ", " -- "]), size=len(words))
        seps[11::12] = "\n"
        text = "".join(w + s for w, s in zip(words.tolist(), seps.tolist()))
        path = os.path.join(out_dir, f"pg-{i:02d}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write(text)
        paths.append(path)
    props = {
        "input_hash": files_hash(paths),
        "files": n_files,
        "words": n_files * words_per_file,
        "vocabulary": n_vocab,
        "distinct_keys": len(distinct),
        "zipf_s": zipf_s,
    }
    return paths, props


# --------------------------------------------------------------------------
# query_mix: the ten catalog tables (same schemas as the reference tables)
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_US_PER_DAY = 86_400_000_000


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * _US_PER_DAY, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents over DOC_WORDS (10..100 words each), with a planted share
    of exact copies and one-word edits so the dedup queries find pairs."""
    words = np.array(DOC_WORDS)
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), ln)].tolist()) for ln in lens]
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.01:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts[i] = " ".join(toks)
    return texts


def embeddings(rng: np.random.Generator, n: int, n_labels: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``n_labels`` cluster centres, plus a few planted
    near-copies (cosine > 0.9) of earlier vectors."""
    centres = rng.normal(size=(n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, size=n)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n, EMB_DIM))
    copy = np.flatnonzero(rng.random(n) < 0.02)
    for i in copy[copy > 0]:
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype("float32"), labels.astype("int32")


def make_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the ten tables at ``scale`` (1.0 = the SF1 row counts) and
    return their props. Column names, types and value domains follow the
    reference test tables, so every registry query and its DuckDB oracle
    run on them unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "tables")
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    n_ev = max(int(1_000_000 * scale), 200)
    n_users = max(int(15_000 * scale), 20)
    n_docs = max(int(50_000 * scale), 50)
    n_emb = max(int(20_000 * scale), 50)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pnames = np.array([f"{a} {b}" for a in _PADJ for b in _PNOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pnames[rng.integers(0, len(pnames), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype("float64")
    order = rng.permutation(n_li)  # stored unsorted, like the reference table
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok[order], i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(lnum[order], i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(odate[lok[order]] + rng.integers(1, 122, n_li)),
        }
    )
    ev_ts = np.sort(
        _days(2024, 1, 1) * _US_PER_DAY + rng.integers(0, 30 * _US_PER_DAY, n_ev)
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = doc_texts(rng, n_docs)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs, labels = embeddings(rng, n_emb)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    paths = []
    for name, tab in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        paths.append(path)
    return {
        "input_hash": files_hash(paths),
        "scale": scale,
        "rows": {k: v.num_rows for k, v in t.items()},
        "distinct_keys": {"l_orderkey": n_ord, "user_id": n_users, "doc_words": len(DOC_WORDS)},
        "doc_exact_share": 0.01,
        "doc_near_share": 0.04,
    }


# --------------------------------------------------------------------------
# ingest_cascade: (doc_id, text, embedding) micro-batches
# --------------------------------------------------------------------------


def make_ingest(
    seed: int,
    n_batches: int,
    batch_size: int,
    n_vocab: int = 4000,
    zipf_s: float = 1.0,
    exact_share: float = 0.10,
    near_share: float = 0.10,
    contaminated_share: float = 0.02,
    bench_docs: int = 40,
) -> tuple[list[list[tuple]], list[tuple], dict]:
    """Micro-batches for the six-tier admission sink plus the benchmark
    (eval) corpus its decontamination tier indexes.

    Batch 0 is all fresh. Later batches mix fresh docs with byte-identical
    re-fetches and one-word-edited near-dups of docs from EARLIER batches
    (each under a new doc_id) and docs quoting a 12-token span of the
    eval corpus. Returns ``(batches, bench_rows, props)``; every doc row
    is ``(doc_id, text, embedding, kind, source_id)``.
    """
    rng = rng_for(seed, "ingest")
    vocab = np.array(vocabulary(rng, n_vocab))

    def fresh_text() -> str:
        n = int(rng.integers(40, 120))
        return " ".join(vocab[zipf_ranks(rng, n_vocab, n, zipf_s)].tolist())

    def fresh_vec() -> list[float]:
        v = rng.normal(size=EMB_DIM)
        return (v / np.linalg.norm(v)).tolist()

    bench = [(i, fresh_text()) for i in range(bench_docs)]
    batches: list[list[tuple]] = []
    earlier: list[tuple] = []
    next_id = 0
    counts = {"fresh": 0, "exact": 0, "near": 0, "contaminated": 0}
    for b in range(n_batches):
        rows = []
        for _ in range(batch_size):
            r = rng.random()
            if b > 0 and r < exact_share:
                src = earlier[int(rng.integers(0, len(earlier)))]
                row = (next_id, src[1], src[2], "exact", src[0])
            elif b > 0 and r < exact_share + near_share:
                src = earlier[int(rng.integers(0, len(earlier)))]
                toks = src[1].split(" ")
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
                row = (next_id, " ".join(toks), src[2], "near", src[0])
            elif b > 0 and r < exact_share + near_share + contaminated_share:
                btoks = bench[int(rng.integers(0, bench_docs))][1].split(" ")
                at = int(rng.integers(0, max(len(btoks) - 12, 1)))
                text = " ".join(btoks[at : at + 12]) + " " + fresh_text()
                row = (next_id, text, fresh_vec(), "contaminated", -1)
            else:
                row = (next_id, fresh_text(), fresh_vec(), "fresh", -1)
            counts[row[3]] += 1
            rows.append(row)
            next_id += 1
        batches.append(rows)
        earlier.extend(r for r in rows if r[3] == "fresh")
    h = hashlib.sha256()
    for rows in batches:
        for doc_id, text, emb, kind, src in rows:
            h.update(f"{doc_id}|{text}|{kind}|{src}|".encode())
            h.update(np.asarray(emb, dtype="float64").tobytes())
    total = sum(counts.values())
    props = {
        "input_hash": h.hexdigest()[:16],
        "batches_generated": n_batches,
        "batch_size": batch_size,
        "vocabulary": n_vocab,
        "zipf_s": zipf_s,
        "exact_share": round(counts["exact"] / total, 4),
        "near_share": round(counts["near"] / total, 4),
        "contaminated_share": round(counts["contaminated"] / total, 4),
        "bench_docs": bench_docs,
    }
    return batches, bench, props
