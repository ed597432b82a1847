"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and knobs: the same seed
writes byte-identical parquet files (numpy's PCG64 stream, pyarrow's
writer with fixed options, no wall-clock values anywhere).

* ``tables`` — the ten-table star schema the 150 graded queries read, at
               the sf0.1 row counts of the graded corpus.
* ``crawl``  — the crawl workload's shards: documents with planted
               near-duplicates, re-crawled ids and exact copies of stored
               documents, plus embeddings with planted near-duplicates.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)
    return user_bytes(table)


def user_bytes(table):
    """Bytes of the values a user wrote: fixed-width values at their
    width, strings at their UTF-8 length, lists at their elements'."""
    total = 0
    for col in table.columns:
        t = col.type
        if pa.types.is_list(t):
            col, t = pa.chunked_array([c.flatten() for c in col.chunks]), t.value_type
        if pa.types.is_string(t):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += len(col) * t.bit_width // 8
    return total


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(base, offsets_s):
    return pa.array((base + offsets_s).astype("int64") * 1_000_000,
                    pa.timestamp("us"))


def tables(seed, out, sf=0.1):
    """The graded star schema: one parquet file per table under ``out``.
    Returns the tables' user bytes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = 5000, 2000
    i32, i64 = pa.int32(), pa.int64()
    ub = 0

    ub += _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    ub += _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out}/nation.parquet")
    ub += _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    ub += _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red",
                    "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
                     "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    ub += _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0,
                                  2)}),
        f"{out}/part.parquet")
    day = 86_400
    epoch_1995 = 788_918_400
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    ub += _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(epoch_1995, rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype("float64")
    ub += _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line),
                                    2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(epoch_1995 + day,
                             rng.integers(0, 2500, n_line) * day)}),
        f"{out}/lineitem.parquet")
    gaps = rng.integers(1_000_000, 400_000_000, n_ev)  # µs between events
    ts_us = 1_704_067_200_000_000 + np.cumsum(gaps)
    ub += _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": rng.integers(0, 50_000, n_ev) / 100.0,
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n_ev).astype(str)),
                             "}")}),
        f"{out}/events.parquet")
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    ub += _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")
    emb = _unit(rng.standard_normal((n_emb, 64))).astype("float32")
    ub += _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}),
        f"{out}/embeddings.parquet")
    return ub


def _unit(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _jaccard(a, b):
    a, b = set(a), set(b)
    return len(a & b) / len(a | b)


def crawl(seed, out, shard_sizes=(300, 2000, 2000, 2000, 2000),
          seed_docs=2000, vecs_per_doc=0.6, vocab=20_000, zipf_s=1.05,
          doc_len=(40, 80), dup_share=0.1, dup_edits=2, vec_dup_share=0.1,
          vec_noise=0.2, recrawl_share=0.1, copy_share=0.05, n_sources=20):
    """The crawl workload's inputs.

    * ``sources.parquet`` — the small dimension table (source, tier, region);
    * ``shard_0/docs.parquet`` — the documents the table starts with;
    * ``shard_<i>/`` for each later shard: ``docs.parquet`` (doc_id, lang,
      source, text) and ``emb.parquet`` (vec_id, embedding), with planted
      pairs in ``planted_text.csv`` and ``planted_vec.csv``.

    Texts are Zipfian draws from a ``vocab``-token vocabulary. In a shard,
    a ``dup_share`` of the new documents are near-copies of an earlier one
    (same lang and source, ``dup_edits`` token substitutions, token-set
    Jaccard >= 0.85), a ``recrawl_share`` of rows re-crawl a stored id with
    fresh text, and a ``copy_share`` are new ids whose text copies a stored
    document exactly. A ``vec_dup_share`` of a shard's vectors are noisy
    copies of an earlier one (cosine >= 0.95).
    Returns each shard's rows as (doc_id, lang, source, text) tuples.
    """
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    cdf = np.cumsum(p / p.sum())
    texts = {}   # doc_id -> current text, as the generator expects it stored
    meta = {}    # doc_id -> (lang, source)
    next_id = 0

    def tokens():
        k = int(rng.integers(doc_len[0], doc_len[1] + 1))
        return np.minimum(np.searchsorted(cdf, rng.random(k)), vocab - 1)

    def new_meta():
        return (LANGS[int(rng.choice(5, p=LANG_P))],
                f"src{int(rng.integers(0, n_sources))}")

    def text(ids):
        return " ".join(f"w{t}" for t in ids)

    shards = []
    for i, size in enumerate((seed_docs,) + tuple(shard_sizes)):
        d = os.path.join(out, f"shard_{i}")
        os.makedirs(d, exist_ok=True)
        rows, planted = [], []
        stored = sorted(texts)
        n_re = int(size * recrawl_share) if i else 0
        n_copy = int(size * copy_share) if i else 0
        for doc in rng.choice(stored, n_re + n_copy, replace=False) if i else []:
            doc = int(doc)
            if n_re:
                rows.append((doc,) + meta[doc] + (text(tokens()),))
                n_re -= 1
            else:
                rows.append((next_id,) + meta[doc] + (texts[doc],))
                next_id += 1
        n_new = size - len(rows)
        n_orig = n_new - (int(n_new * dup_share) if i else 0)
        orig = []
        for _ in range(n_orig):
            orig.append((next_id, new_meta(), tokens()))
            next_id += 1
        for _ in range(n_new - n_orig):
            while True:
                src_id, m, src_toks = orig[int(rng.integers(0, n_orig))]
                dup = src_toks.copy()
                pos = rng.choice(len(dup), dup_edits, replace=False)
                dup[pos] = rng.integers(0, vocab, dup_edits)
                if _jaccard(dup, src_toks) >= 0.85:
                    break
            rows.append((next_id,) + m + (text(dup),))
            planted.append((src_id, next_id))
            next_id += 1
        rows += [(doc,) + m + (text(t),) for doc, m, t in orig]
        rows = [rows[j] for j in rng.permutation(len(rows))]
        for doc, lang, src, t in rows:
            texts[doc] = t
            meta[doc] = (lang, src)
        ids, langs, srcs, txts = zip(*rows)
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()), "lang": list(langs),
            "source": list(srcs), "text": list(txts)}), f"{d}/docs.parquet")
        shards.append(rows)
        if i == 0:
            continue
        n_vecs = int(size * vecs_per_doc)
        n_vorig = n_vecs - int(n_vecs * vec_dup_share)
        vecs = _unit(rng.standard_normal((n_vecs, 64)))
        vec_pairs = []
        for j in range(n_vorig, n_vecs):
            src = int(rng.integers(0, n_vorig))
            while True:
                v = _unit((vecs[src] + vec_noise / 8.0 *
                           rng.standard_normal(64))[None, :])[0]
                if float(v @ vecs[src]) >= 0.95:
                    break
            vecs[j] = v
            vec_pairs.append((src, j))
        _write(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")),
                                  pa.list_(pa.float32()))}), f"{d}/emb.parquet")
        for name, ps in (("text", planted), ("vec", vec_pairs)):
            with open(f"{d}/planted_{name}.csv", "w") as f:
                f.writelines(f"{a},{b}\n" for a, b in ps)
    _write(pa.table({
        "source": [f"src{i}" for i in range(n_sources)],
        "tier": pa.array([i % 4 for i in range(n_sources)], pa.int32()),
        "region": [f"r{i % 3}" for i in range(n_sources)]}),
        f"{out}/sources.parquet")
    return shards


def inventory_order(seed, names):

    """The seed-shuffled order of the inventory's queries."""
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]
