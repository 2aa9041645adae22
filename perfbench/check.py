"""Output checks. The first cycle of a run is checked against an
independent reference; later cycles must produce the same digest as the
first. Every check returns a list of (op name, ok, detail)."""
import glob
import hashlib
import json
import math
import os

import pandas as pd
import pyarrow.parquet as pq

import gen

# ------------------------------------------------------------- helpers


def read_parquet_dir(path):
    """All parquet part files under `path` (recursively; `key=value`
    directories become columns), as one DataFrame."""
    frames = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        df = pq.read_table(f).to_pandas()
        rel = os.path.relpath(os.path.dirname(f), path)
        for part in ([] if rel == "." else rel.split(os.sep)):
            if "=" in part:
                k, v = part.split("=", 1)
                df[k] = v
        frames.append(df)
    if not frames:
        return pd.DataFrame()
    return pd.concat(frames, ignore_index=True)


def canon(df):
    """Column-sorted, row-sorted frame with integer/float/string columns, so
    equal results compare equal whatever their partitioning."""
    df = df[sorted(df.columns)]
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(str)
        out[c] = s
    df = pd.DataFrame(out, columns=list(df.columns))
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def digest_frame(df):
    c = canon(df)
    h = hashlib.sha256(",".join(c.columns).encode())
    h.update(c.to_csv(index=False).encode())
    return h.hexdigest()


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def same_as_first(results, digests):
    """Cycles after the first pass iff their digest equals the first's and
    the first passed its reference check."""
    first_ok = results[0][1]
    return [results[0]] + [
        (name, first_ok and d == digests[0], "" if d == digests[0] else "digest differs from cycle 0")
        for (name, _, _), d in zip(results[1:], digests[1:])]


# ------------------------------------------------------------ wordcount


def read_tsv(out):
    counts = {}
    for f in sorted(glob.glob(os.path.join(out, "tsv", "part-*"))):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                w, c = line.rstrip("\n").split("\t")
                counts[w] = int(c)
    return counts


def check_wordcount_output(out, truth):
    """(ok, detail) of one word-count output against the generator's truth."""
    counts = read_tsv(out)
    with open(os.path.join(out, "top.txt"), encoding="utf-8") as f:
        top = f.read()
    if sum(counts.values()) != truth["tokens"]:
        return False, f"token total {sum(counts.values())} != {truth['tokens']}"
    if len(counts) != truth["distinct"]:
        return False, f"distinct {len(counts)} != {truth['distinct']}"
    if top != gen.format_top_k(truth["counts"]):
        return False, "top-20 block differs"
    if counts != truth["counts"]:
        bad = next(w for w in truth["counts"] if counts.get(w) != truth["counts"][w])
        return False, f"count of {bad!r}: {counts.get(bad)} != {truth['counts'][bad]}"
    return True, ""


def check_wordcount(cycles, truth):
    outs = [c["ops"][0]["out"] for c in cycles]
    first = check_wordcount_output(outs[0], truth)
    results = [("wordcount", first[0], first[1])] + [("wordcount", True, "")] * (len(outs) - 1)
    digests = [digest_files(sorted(glob.glob(os.path.join(o, "tsv", "part-*"))) +
                            [os.path.join(o, "top.txt")]) for o in outs]
    return same_as_first(results, digests)


# ----------------------------------------------------------------- ship


def shipped(out):
    df = read_parquet_dir(out)
    files = {}
    for d in sorted(glob.glob(os.path.join(out, "split=*"))):
        files[d.split("split=", 1)[1]] = len(glob.glob(os.path.join(d, "part-*.parquet")))
    return df, files


def check_ship_output(out, returned_files, docs, reference_ids, truth, target_bytes):
    """(ok, detail) of one ship output against the reference keep set and
    the ship invariants."""
    df, files = shipped(out)
    ids = set(df["doc_id"].tolist()) if len(df) else set()
    if len(ids) != len(df):
        return False, "a document shipped twice"
    if ids != reference_ids:
        return False, f"shipped {len(ids)} docs, reference keeps {len(reference_ids)} ({len(ids ^ reference_ids)} differ)"
    for copy_id, orig_id in truth["exact"]:
        if max(copy_id, orig_id) in ids:
            return False, f"planted exact copy {max(copy_id, orig_id)} shipped"
    per_split = df.groupby("split").size().to_dict()
    if sum(per_split.values()) != len(reference_ids):
        return False, "split counts do not sum to the kept count"
    nbytes = docs.set_index("doc_id")["text"].str.len()
    for split, rows in per_split.items():
        split_bytes = int(nbytes.loc[df.loc[df["split"] == split, "doc_id"]].sum())
        want = min(rows, max(1, math.ceil(split_bytes / target_bytes)))
        if files.get(split) != want or int(returned_files.get(split, -1)) != want:
            return False, f"split {split}: {files.get(split)} files, want {want}"
    return True, ""


def ship_digest(out):
    df, files = shipped(out)
    return digest_frame(df[["doc_id", "split"]]) + repr(sorted(files.items()))


def check_ship(cycles, truth, in_dir, reference, target_bytes):
    docs = pq.read_table(os.path.join(in_dir, "documents.parquet")).to_pandas()
    ref_ids = set(read_parquet_dir(reference)["doc_id"].tolist())
    ops = [c["ops"][0] for c in cycles]
    first = check_ship_output(ops[0]["out"], ops[0]["files"], docs, ref_ids, truth, target_bytes)
    results = [("ship", first[0], first[1])] + [("ship", True, "")] * (len(ops) - 1)
    return same_as_first(results, [ship_digest(o["out"]) for o in ops])


def planted_removed(out, truth):
    """Planted pairs whose two members did not both ship, with each
    planted base: (exact removed, exact base, near removed, near base)."""
    df, _ = shipped(out)
    ids = set(df["doc_id"].tolist())
    removed = lambda pairs: sum(1 for c, o in pairs if not (c in ids and o in ids))
    return (removed(truth["exact"]), len(truth["exact"]),
            removed(truth["near"]), len(truth["near"]))


# ------------------------------------------------------------ query_mix

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_digests(in_dir, oracle_sql):
    """Digest of each oracle SQL's result in DuckDB over the input tables
    (or the error text). The oracle depends only on the inputs and the SQL
    text, so digests are cached beside the inputs, keyed by the SQL."""
    cache_path = os.path.join(in_dir, "oracle_digests.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = lambda sql: hashlib.sha256(sql.encode()).hexdigest()
    missing = {n: q for n, q in oracle_sql.items() if key(q) not in cache}
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(in_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name, sql in missing.items():
            try:
                cache[key(sql)] = digest_frame(con.execute(sql).fetchdf())
            except Exception as e:  # a broken oracle fails that query's check
                cache[key(sql)] = f"error: {e}"
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {n: cache[key(q)] for n, q in oracle_sql.items()}


def check_query_mix(cycles, in_dir, oracle_sql):
    """Cold-pass results against the DuckDB oracle; warm-pass results
    against the cold pass."""
    oracle = oracle_digests(in_dir, oracle_sql)
    results, first = [], {}
    for c in cycles:
        for op in c["ops"]:
            name = op["name"]
            d = digest_frame(read_parquet_dir(op["out"]))
            if name not in first:
                ok = d == oracle.get(name)
                detail = "" if ok else f"differs from the oracle ({oracle.get(name, 'no oracle')[:80]})"
                first[name] = (ok, d)
            else:
                ok = first[name][0] and first[name][1] == d
                detail = "" if ok else "digest differs from the cold pass"
            results.append((name, ok, detail))
    return results


# --------------------------------------------------------------- stream


def check_stream(cycles):
    results, first = [], {}
    for c in cycles:
        ops = {op["name"]: op for op in c["ops"]}
        for twin in ("dedup", "neardup", "pack_offsets"):
            df = read_parquet_dir(ops[twin]["out"]).drop(columns=["batch"], errors="ignore")
            d = digest_frame(df)
            ok = len(df) > 0 and first.setdefault(twin, d) == d
            results.append((twin, ok, "" if ok else "output differs from cycle 0"))
        pack = read_parquet_dir(ops["pack_offsets"]["out"]).drop(columns=["batch"], errors="ignore")
        resumed = read_parquet_dir(ops["pack_offsets_resume"]["out"]).drop(columns=["batch"], errors="ignore")
        ok = len(resumed) > 0 and digest_frame(pack) == digest_frame(resumed)
        results.append(("pack_offsets_recovery", ok, "" if ok else "resumed output != uninterrupted output"))
    return results
