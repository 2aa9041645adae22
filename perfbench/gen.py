"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed and size arguments: the same
arguments give byte-identical files. Each one also returns the ground truth
the output checks compare against (word counts for the text corpus, the
planted duplicate ids for the documents corpus).

Tables mirror the schemas and value domains of the repo's synthetic
TPC-H-like corpus (see TESTDATA.md), so every declared query and its DuckDB
oracle run on them unchanged.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- text corpus (TextFixture's recipe: Zipf s=1 over 65 536 words, 12
# words per line, stopword head so the top-20 block reads like English) ---

COMMON = ["the", "of", "and", "a", "in", "to", "is", "was", "it", "for",
          "that", "as", "on", "with", "by", "at", "from", "are", "this", "be",
          "an", "or", "his", "which", "one", "were", "but", "not", "he", "had"]
VOCAB_SIZE = 65536
WORDS_PER_LINE = 12


def _base26(k):
    out = []
    while k > 0 or not out:
        out.append(chr(ord("a") + k % 26))
        k //= 26
    return "".join(out)


def text_vocab():
    return COMMON + ["x" + _base26(k) for k in range(len(COMMON), VOCAB_SIZE)]


def text_corpus(out_dir, seed, total_bytes, n_files):
    """Write `n_files` text files of about total_bytes/n_files bytes each.

    Returns the ground truth: the full word -> count table (the tokenizer
    `[a-z]+` sees every vocabulary word whole, so it is exact), the token
    total, the distinct-word count and the input byte count."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = text_vocab()
    vobj = np.array(vocab, dtype=object)
    vlen = np.array([len(w) for w in vocab], dtype=np.int64)
    cum = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1))
    counts = np.zeros(VOCAB_SIZE, dtype=np.int64)
    per_file = total_bytes // n_files
    written = 0
    for f in range(n_files):
        rng = np.random.Generator(np.random.PCG64([seed, f]))
        path = os.path.join(out_dir, f"part-{f:04d}.txt")
        with open(path, "w", encoding="ascii", newline="\n") as out:
            remaining = per_file
            while remaining > 0:
                # ~ lines of 78 bytes; draw a block, keep the prefix that
                # reaches the file's byte target (whole lines only).
                n_lines = max(1, min(65536, remaining // 60 + 1))
                idx = np.searchsorted(cum, rng.random(n_lines * WORDS_PER_LINE) * cum[-1])
                idx = idx.reshape(n_lines, WORDS_PER_LINE)
                line_bytes = vlen[idx].sum(axis=1) + WORDS_PER_LINE
                keep = int(np.searchsorted(np.cumsum(line_bytes), remaining)) + 1
                keep = min(keep, n_lines)
                idx = idx[:keep]
                counts += np.bincount(idx.ravel(), minlength=VOCAB_SIZE)
                out.write("".join(" ".join(r) + "\n" for r in vobj[idx].tolist()))
                nb = int(line_bytes[:keep].sum())
                remaining -= nb
                written += nb
    table = {vocab[i]: int(c) for i, c in enumerate(counts) if c > 0}
    return {"counts": table, "tokens": int(counts.sum()),
            "distinct": len(table), "bytes": written}


def top_k(counts, k=20):
    """(word, count) pairs in the report order: count desc, word asc."""
    return sorted(counts.items(), key=lambda wc: (-wc[1], wc[0]))[:k]


def format_top_k(counts, k=20):
    """The reference console block, as graft's Report.formatTopK prints it."""
    top = top_k(counts, k)
    longest = max((len(w) for w, _ in top), default=5)
    lines = [f"{i + 1:2d}. {w.ljust(longest + 1)}: {c:,d}"
             for i, (w, c) in enumerate(top)]
    bar = "=" * 60
    return f"{bar}\nTOP {k} WORDS BY FREQUENCY\n{bar}\n\n" + "\n".join(lines)


# --- documents corpus ---

DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20


def documents(seed, n_docs, exact_share, near_share):
    """A documents table of `n_docs` rows: a base corpus plus planted exact
    copies and planted near-duplicates (one word substituted), with the ids
    permuted so copies are not adjacent to their originals.

    Returns (table, truth); truth lists each planted (copy_id, original_id)."""
    rng = np.random.Generator(np.random.PCG64([seed, 101]))
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near
    words = np.array(DOC_WORDS, dtype=object)
    lens = rng.integers(10, 101, size=n_base)
    texts = [" ".join(words[rng.integers(0, len(DOC_WORDS), size=n)].tolist())
             for n in lens]
    langs = rng.choice(len(LANGS), size=n_base, p=LANG_P).tolist()
    # planted copies: originals drawn without replacement from the base
    origs = rng.choice(n_base, size=n_exact + n_near, replace=False)
    for j, o in enumerate(origs):
        t = texts[o]
        if j >= n_exact:
            toks = t.split(" ")
            pos = int(rng.integers(0, len(toks)))
            choices = [w for w in DOC_WORDS if w != toks[pos]]
            toks[pos] = choices[int(rng.integers(0, len(choices)))]
            t = " ".join(toks)
        texts.append(t)
        langs.append(langs[o])
    ids = rng.permutation(n_docs).astype(np.int64)  # row r gets id ids[r]
    order = np.argsort(ids)
    texts = [texts[r] for r in order]
    langs = [LANGS[langs[r]] for r in order]
    doc_id = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    planted = [(int(ids[n_base + j]), int(ids[o])) for j, o in enumerate(origs)]
    truth = {"exact": planted[:n_exact], "near": planted[n_exact:],
             "rows": n_docs}
    return table, truth


# --- embeddings ---

def embeddings(seed, n, dim=64, n_clusters=10):
    """Unit-norm vectors around `n_clusters` centers; `label` is the center."""
    rng = np.random.Generator(np.random.PCG64([seed, 202]))
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, n_clusters, size=n).astype(np.int32)
    x = centers[label] * 0.6 + rng.normal(scale=0.6 / np.sqrt(dim), size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(x.ravel(), pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array(label, pa.int32())})


# --- relational tables (sf-scaled row counts, sf0.1 = 600 000 lineitems) ---

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size=n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def relational(seed, sf):
    rng = np.random.Generator(np.random.PCG64([seed, 303]))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    pick = lambda vals, n: pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), size=n)].tolist(), pa.string())
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, size=n_part) / 10, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, size=n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n_ev).astype(np.int64)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)], pa.string())})
    return t


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def stage_files(table, out_dir, n_files, mtime0=1_700_000_000):
    """Split `table` into `n_files` parquet files whose modification times
    increase with the file index, so a file stream source sees them in a
    fixed order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        write_parquet(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (mtime0 + i, mtime0 + i))
        paths.append(p)
    return paths


# --- per-workload input sets, cached per seed ---

SIZES = {
    "wordcount": {"text_bytes": 24 << 20, "text_files": 8},
    "ship": {"docs": 1600, "exact_share": 0.08, "near_share": 0.08},
    "query_mix": {"docs": 1000, "exact_share": 0.04, "near_share": 0.04,
                  "vectors": 500, "sf": 0.01},
    "stream": {"docs": 1600, "exact_share": 0.04, "near_share": 0.04,
               "files": 8},
}
# Bump when a generator's output changes, so cached inputs are rebuilt.
GEN_VERSION = 1
WARM_TEXT_BYTES = 1 << 20


def _gen(workload, seed, d):
    size = SIZES[workload]
    truth = {}
    if workload == "wordcount":
        truth = text_corpus(os.path.join(d, "text"), seed,
                            size["text_bytes"], size["text_files"])
    else:
        table, truth = documents(seed, size["docs"], size["exact_share"],
                                 size["near_share"])
        if workload == "stream":
            stage_files(table, os.path.join(d, "stage"), size["files"])
        else:
            write_parquet(table, os.path.join(d, "documents.parquet"))
    if workload == "query_mix":
        write_parquet(embeddings(seed, size["vectors"]),
                      os.path.join(d, "embeddings.parquet"))
        for name, t in relational(seed, size["sf"]).items():
            write_parquet(t, os.path.join(d, f"{name}.parquet"))
    return truth


def warm_inputs(d):
    """A tiny fixed input set (seed 0) for the session warmup jobs."""
    done = os.path.join(d, "DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    text_corpus(os.path.join(d, "text"), 0, WARM_TEXT_BYTES, 2)
    with open(done, "w") as f:
        f.write("ok\n")
    return d


def inputs(root, workload, seed):
    """Generate (or reuse) the inputs of `workload` for `seed` under `root`.

    Returns (dir, truth, seconds the generation took when it ran)."""
    key = json.dumps([SIZES[workload], GEN_VERSION], sort_keys=True)
    tag = hashlib.sha256(key.encode()).hexdigest()[:8]
    d = os.path.join(root, f"{workload}-seed{seed}-{tag}")
    meta = os.path.join(d, "truth.json")
    if not os.path.exists(meta):
        tmp = d + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        truth = _gen(workload, seed, tmp)
        truth["gen_s"] = time.perf_counter() - t0
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        os.rename(tmp, d)
    with open(meta) as f:
        truth = json.load(f)
    return d, truth, truth["gen_s"]


def input_bytes(d):
    """Bytes of the input data under `d` (not the JSON sidecars: the truth
    and the cached oracle digests)."""
    total = 0
    for dirpath, _, files in os.walk(d):
        for name in files:
            if not name.endswith(".json"):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total
