"""Seeded input generator for the benchmark workloads.

Every table is synthesized from the seed alone (numpy PCG64), in the shape of
the TPC-H-style fixtures graft's own tests read: lineitem/orders for the
data-quality suite, and a day's documents and vectors against standing state
for ingest.  The seed picks the planted nulls, duplicate keys, orphan keys,
exact duplicates, junk and contamination, the row order and the batch
splits.  The planted facts are
written to ``truths.json`` beside the tables; the program under test only
ever sees the parquet files.

Same seed -> byte-identical files (``manifest.json`` holds their sha256).
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload.  They are part of the benchmark definition:
# changing one changes every metric, so README.md records them.
SIZES = {
    "dq_suite": {"orders": 120_000, "null_share": 0.02, "dup_rows": 1_200,
                 "orphan_rows": 900, "invalid_qty_rows": 1_500,
                 "bad_price_rows": 600},
    "standing_ingest": {"history_docs": 1_500, "batch_docs": 600, "base_vectors": 2_000,
                        "batch_vectors": 400, "deletes": 30, "eval_docs": 60,
                        "queries": 40},
}

DIM = 64
# the English marker words graft's language and quality scores count
STOPWORDS = ["the", "of", "and", "to", "in", "is", "that", "it", "a"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da",
             "zu", "ri", "fo", "gan", "mel", "tor", "bis", "qua", "ven", "lix"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _vocab(n):
    """Deterministic word list (independent of the seed)."""
    words, i = [], 0
    while len(words) < n:
        a, b, c = i % 20, (i // 20) % 20, (i // 400) % 20
        w = SYLLABLES[a] + SYLLABLES[b] + ("" if i < 400 else SYLLABLES[c])
        words.append(w)
        i += 1
    return words


VOCAB = _vocab(3000)


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _good_doc(rng, n_words):
    """A prose-like document: vocabulary words with ~25 % stopwords and at
    least four distinct ones, so its quality score clears the curation gate."""
    idx = rng.integers(0, len(VOCAB), n_words)
    stop = rng.random(n_words) < 0.25
    sidx = rng.integers(0, len(STOPWORDS), n_words)
    words = [STOPWORDS[s] if st else VOCAB[i] for i, st, s in zip(idx, stop, sidx)]
    for w, p in zip(rng.choice(STOPWORDS, 4, replace=False), rng.choice(n_words, 4, replace=False)):
        words[int(p)] = str(w)
    return words


def _junk_doc(rng):
    """A punctuation wall: fails the quality gate by construction."""
    n = int(rng.integers(8, 20))
    marks = ["!!!", "###", "$$", "%%%", "&&", "***", "@@", "~~~"]
    return " ".join(marks[int(j)] for j in rng.integers(0, len(marks), n))


def _case_variant(rng, words):
    """Same content fingerprint (lower/trim/whitespace-normalized), other bytes."""
    text = "  ".join(words) if rng.random() < 0.5 else " ".join(words)
    return text.upper() if rng.random() < 0.5 else " " + text.title() + " "


def _vectors(rng, n, centers, noise):
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + noise * rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _vec_table(ids, vecs):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})


def _doc_table(ids, texts):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{i % 4}" for i in ids], pa.string()),
    })


def gen_dq_suite(rng, out, sz):
    n_o = sz["orders"]
    okeys = np.arange(n_o, dtype=np.int64)
    odate = EPOCH_1992 + (rng.integers(0, 365 * 7, n_o) * DAY_US).astype("timedelta64[us]")
    orders = pa.table({
        "o_orderkey": pa.array(okeys[rng.permutation(n_o)]),
        "o_custkey": pa.array(rng.integers(0, n_o // 10, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_o), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_o)]),
    })
    # the table permutation above only shuffles rows; order dates follow keys
    odate_by_key = odate
    nlines = rng.integers(1, 8, n_o)
    lk = np.repeat(okeys, nlines)
    n = len(lk)
    lnum = (np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = odate_by_key[lk] + (rng.integers(1, 122, n) * DAY_US).astype("timedelta64[us]")
    flag = np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]
    status = np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)]
    partkey = rng.integers(0, 20_000, n)
    suppkey = rng.integers(0, 1_000, n)
    # planted faults (disjoint row sets)
    rows = rng.permutation(n)
    cut = np.cumsum([sz["orphan_rows"], sz["invalid_qty_rows"], sz["bad_price_rows"]])
    orphan, badq, badp = rows[:cut[0]], rows[cut[0]:cut[1]], rows[cut[1]:cut[2]]
    lk = lk.copy()
    lk[orphan] = n_o + rng.integers(0, n_o, len(orphan))
    qty[badq] = rng.integers(51, 200, len(badq))
    price[badp] = -price[badp]
    ship_null = rng.random(n) < sz["null_share"]
    flag_null = rng.random(n) < sz["null_share"]
    qty_null = rng.random(n) < sz["null_share"] / 2
    # duplicate keys: exact row copies appended, then every row shuffled
    dup_src = rng.choice(n, size=sz["dup_rows"], replace=False)
    take = np.concatenate([np.arange(n), dup_src])[rng.permutation(n + len(dup_src))]

    def arr(values, mask, typ):
        return pa.array(values[take], typ, mask=None if mask is None else mask[take])

    lineitem = pa.table({
        "l_orderkey": arr(lk, None, pa.int64()),
        "l_partkey": arr(partkey, None, pa.int64()),
        "l_suppkey": arr(suppkey, None, pa.int64()),
        "l_linenumber": arr(lnum, None, pa.int32()),
        "l_quantity": arr(qty, qty_null, pa.float64()),
        "l_extendedprice": arr(price, None, pa.float64()),
        "l_discount": arr(disc, None, pa.float64()),
        "l_tax": arr(tax, None, pa.float64()),
        "l_returnflag": arr(flag, flag_null, pa.string()),
        "l_linestatus": arr(status, None, pa.string()),
        "l_shipdate": arr(ship, ship_null, pa.timestamp("us")),
    })
    _write(orders, os.path.join(out, "orders.parquet"))
    _write(lineitem, os.path.join(out, "lineitem.parquet"))
    return {"lineitem_rows": lineitem.num_rows, "orders_rows": n_o,
            "dup_key_groups": int(len(np.unique(dup_src))),
            "orphan_rows": int((lk[take] >= n_o).sum()),  # duplicated orphans included
            "input_rows": lineitem.num_rows + n_o}


def _corpus(rng, n_docs, n_eval, n_exact, n_contam, n_junk):
    """Documents with planted exact duplicates, eval-set contamination and
    junk.  Returns (ids, texts, eval_texts, truth)."""
    eval_words = [_good_doc(rng, int(rng.integers(40, 80))) for _ in range(n_eval)]
    n_base = n_docs - n_exact - n_contam - n_junk
    base = [_good_doc(rng, int(rng.integers(40, 110))) for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    kind = ["base"] * n_base
    for _ in range(n_exact):
        s = int(rng.integers(0, n_base))
        texts.append(_case_variant(rng, base[s])); kind.append("exact")
    for _ in range(n_contam):
        e = int(rng.integers(0, n_eval))
        span = eval_words[e][5:17]
        w = _good_doc(rng, int(rng.integers(40, 90)))
        p = int(rng.integers(0, len(w)))
        texts.append(" ".join(w[:p] + span + w[p:])); kind.append("contam")
    for _ in range(n_junk):
        texts.append(_junk_doc(rng)); kind.append("junk")
    # ids are a seeded permutation, so planted rows sit anywhere in id order
    perm = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts), dtype=np.int64)
    order = np.argsort(ids)
    truth = {
        "kind": [kind[i] for i in order],
        "ids": [int(ids[i]) for i in order],
    }
    return ([int(ids[i]) for i in order], [texts[i] for i in order],
            [" ".join(w) for w in eval_words], truth)


def gen_standing_ingest(rng, out, sz):
    """Yesterday's state and today's batch: `history.parquet` (the documents
    already cataloged) and `base_vectors.parquet` (the index as it stands),
    then today's `batch.parquet`, `batch_vectors.parquet` and
    `deletes.parquet`.  The seed splits one corpus between history and
    batch, so exact duplicates land on both sides."""
    n_hist, n_batch = sz["history_docs"], sz["batch_docs"]
    n_docs = n_hist + n_batch
    ids, texts, evals, truth = _corpus(rng, n_docs, sz["eval_docs"], n_docs // 12,
                                       n_docs // 40, n_docs // 40)
    in_batch = np.zeros(n_docs, dtype=bool)
    in_batch[rng.choice(n_docs, size=n_batch, replace=False)] = True
    for name, sel in (("history", ~in_batch), ("batch", in_batch)):
        idx = np.flatnonzero(sel)
        _write(_doc_table([ids[i] for i in idx], [texts[i] for i in idx]),
               os.path.join(out, f"{name}.parquet"))
    eid = list(range(10**9, 10**9 + len(evals)))
    _write(_doc_table(eid, evals), os.path.join(out, "eval.parquet"))
    centers = rng.standard_normal((16, DIM))
    nbase, bv = sz["base_vectors"], sz["batch_vectors"]
    vecs = _vectors(rng, nbase + bv, centers, 0.6)
    _write(_vec_table(np.arange(nbase), vecs[:nbase]), os.path.join(out, "base_vectors.parquet"))
    _write(_vec_table(np.arange(nbase, nbase + bv), vecs[nbase:]),
           os.path.join(out, "batch_vectors.parquet"))
    deletes = np.sort(rng.choice(nbase, size=sz["deletes"], replace=False))
    _write(pa.table({"vec_id": pa.array(deletes, pa.int64())}), os.path.join(out, "deletes.parquet"))
    qv = _vectors(rng, sz["queries"], centers, 0.6)
    _write(_vec_table(np.arange(10**9, 10**9 + len(qv)), qv), os.path.join(out, "queries.parquet"))
    truth["in_batch"] = [bool(in_batch[i]) for i in range(n_docs)]
    truth["deletes"] = [int(x) for x in deletes]
    truth["input_rows"] = n_docs + len(evals) + nbase + bv + len(deletes) + len(qv)
    return truth


# workload -> (generator, random stream); the stream number is fixed per
# workload, so one workload's inputs never depend on which others exist
GENERATORS = {
    "dq_suite": (gen_dq_suite, 1),
    "standing_ingest": (gen_standing_ingest, 3),
}


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def manifest(out):
    files = {}
    for root, _, names in os.walk(out):
        for n in sorted(names):
            p = os.path.join(root, n)
            rel = os.path.relpath(p, out)
            if rel != "manifest.json":
                files[rel] = _sha256(p)
    return dict(sorted(files.items()))


def generate(workload, seed, out):
    """Write workload inputs for `seed` into `out` (replaced if present).
    Returns the truths dict (also written to truths.json)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    fn, stream = GENERATORS[workload]
    rng = np.random.Generator(np.random.PCG64([seed, stream]))
    truth = fn(rng, out, SIZES[workload])
    truth["workload"], truth["seed"] = workload, seed
    truth["input_bytes"] = sum(os.path.getsize(os.path.join(r, n))
                               for r, _, ns in os.walk(out) for n in ns)
    with open(os.path.join(out, "truths.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest(out), f, indent=1)
    return truth
