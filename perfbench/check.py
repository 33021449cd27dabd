"""Correctness check of one run's outputs, computed without graft.

The check pass of the benchmark JVM writes every operation's output as
parquet.  Each output is compared here against a reference built from the
generated inputs alone: DuckDB replays of the operation's SQL semantics, the
generator's planted truths, and plain Python or numpy where SQL is the wrong
tool (n-gram counts, fingerprints, brute-force nearest neighbours).

`run()` returns one (name, ok, message) triple per checked output, and the
recall@10 of the approximate search (None for a workload without one).
"""

import hashlib
import os
import re
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _read(check_dir, name):
    return pq.read_table(os.path.join(check_dir, f"{name}.parquet"))


def _close(a, b, rel=1e-9, abs_=1e-12):
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


class Report:
    def __init__(self):
        self.items = []
        self.recall = None  # recall@10 of the approximate search, if any

    def add(self, name, ok, msg=""):
        self.items.append((name, bool(ok), msg))

    def guard(self, name, fn):
        """Run one check; an exception in it is a failed check."""
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - a crashed check is a failed one
            self.add(name, False, f"{type(e).__name__}: {e}")


# ---------------------------------------------------------------- dq_suite

DQ_ANCHOR = "2000-01-01 00:00:00"
DQ_FRESH_DAYS = 1095
DQ_PRED = {
    "completeness": "l_shipdate IS NOT NULL AND l_returnflag IS NOT NULL AND l_quantity IS NOT NULL",
    "raw_completeness": "l_shipdate IS NOT NULL AND l_returnflag IS NOT NULL",
    "validity": "coalesce(l_quantity BETWEEN 1 AND 50 AND l_discount BETWEEN 0 AND 0.1, false)",
    "accuracy": "coalesce(l_extendedprice > 0 AND l_tax >= 0, false)",
    "freshness": f"coalesce(l_shipdate >= TIMESTAMP '{DQ_ANCHOR}' - INTERVAL {DQ_FRESH_DAYS} DAY, false)",
    "consistency": "l_orderkey IN (SELECT o_orderkey FROM o)",
}


def check_dq_suite(data, out, truths, rep):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW l AS SELECT * FROM '{data}/lineitem.parquet'")
    con.execute(f"CREATE VIEW o AS SELECT * FROM '{data}/orders.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def metrics():
        got = {(r["metric_name"], r["column"]): r["value_double"]
               for r in _read(out, "dq_metrics").to_pylist()}
        want = {
            ("completeness", "l_shipdate"): one("SELECT avg((l_shipdate IS NOT NULL)::INT) FROM l"),
            ("completeness", "l_returnflag"): one("SELECT avg((l_returnflag IS NOT NULL)::INT) FROM l"),
            ("completeness", "l_quantity"): one("SELECT avg((l_quantity IS NOT NULL)::INT) FROM l"),
            ("raw_completeness", ""): one(f"SELECT avg(({DQ_PRED['raw_completeness']})::INT) FROM l"),
            ("uniqueness", "l_orderkey"): one("SELECT count(DISTINCT l_orderkey) / count(l_orderkey) FROM l"),
            ("validity", ""): one(f"SELECT avg(({DQ_PRED['validity']})::INT) FROM l"),
            ("accuracy", ""): one(f"SELECT avg(({DQ_PRED['accuracy']})::INT) FROM l"),
            ("freshness", "l_shipdate"): one(
                f"SELECT epoch(TIMESTAMP '{DQ_ANCHOR}' - max(l_shipdate)) / 86400 FROM l"),
            ("consistency", "l_orderkey"): one(
                "SELECT avg((o.o_orderkey IS NULL)::INT) FROM l LEFT JOIN o ON l_orderkey = o_orderkey"),
        }
        bad = [f"{k}: got {got.get(k)} want {v}" for k, v in want.items()
               if k not in got or not _close(got[k], float(v))]
        planted = truths["orphan_rows"] / truths["lineitem_rows"]
        if not _close(got.get(("consistency", "l_orderkey"), -1), planted):
            bad.append(f"orphan ratio != planted {planted}")
        rep.add("dq_metrics", not bad and len(got) == len(want), "; ".join(bad) or f"{len(got)} metrics")

    def valid_split():
        # the fold ends with the uniqueness check (dropDuplicates on
        # l_orderkey), so the split holds one row per distinct key of the
        # rows that pass every other check
        where = " AND ".join(DQ_PRED.values())
        want = con.execute(f"SELECT l_orderkey FROM l WHERE {where} GROUP BY 1 ORDER BY 1").fetchnumpy()["l_orderkey"]
        got = np.sort(_read(out, "dq_valid").column("l_orderkey").to_numpy())
        rep.add("dq_valid", np.array_equal(got, want), f"{len(got)} rows, want {len(want)}")

    def invalid_split():
        got = Counter(_read(out, "dq_invalid").column("failed_check").to_pylist())
        want = {k: one(f"SELECT count(*) FROM l WHERE NOT ({p})") for k, p in DQ_PRED.items()}
        want["uniqueness"] = one("SELECT count(*) FROM l WHERE l_orderkey IN "
                                 "(SELECT l_orderkey FROM l GROUP BY 1 HAVING count(*) > 1)")
        bad = [f"{k}: {got.get(k, 0)} != {v}" for k, v in want.items() if got.get(k, 0) != v]
        rep.add("dq_invalid", not bad, "; ".join(bad) or f"{sum(got.values())} tagged rows")

    def dup_groups():
        got = sorted(tuple(r.values()) for r in _read(out, "dq_dup_groups").to_pylist())
        want = sorted(con.execute("SELECT l_orderkey, l_linenumber, count(*) FROM l "
                                  "GROUP BY 1, 2 HAVING count(*) > 1").fetchall())
        ok = got == want and len(want) >= truths["dup_key_groups"]
        rep.add("dq_dup_groups", ok, f"{len(got)} groups, want {len(want)} (planted {truths['dup_key_groups']})")

    def drift():
        width = 110000.0 / 20
        b = f"least(greatest(floor((l_extendedprice - 0.0) / {width}), 0), 19)::BIGINT"
        want = con.execute(f"""
            WITH base AS (SELECT {b} bin, count(*) n FROM l
                          WHERE l_shipdate < TIMESTAMP '1995-01-01' GROUP BY 1),
                 cur AS (SELECT {b} bin, count(*) n FROM l
                         WHERE l_shipdate >= TIMESTAMP '1995-01-01' GROUP BY 1)
            SELECT coalesce(base.bin, cur.bin) bin,
                   coalesce(base.n / (SELECT sum(n) FROM base), 0),
                   coalesce(cur.n / (SELECT sum(n) FROM cur), 0)
            FROM base FULL OUTER JOIN cur ON base.bin = cur.bin ORDER BY 1""").fetchall()
        got = sorted((r["bin"], r["p_base"], r["p_curr"]) for r in _read(out, "dq_drift").to_pylist())
        ok = len(got) == len(want) and all(
            g[0] == w[0] and _close(g[1], w[1]) and _close(g[2], w[2]) for g, w in zip(got, want))
        rep.add("dq_drift", ok, f"{len(got)} bins")

    def profile():
        row = _read(out, "dq_profile").to_pylist()[0]
        bad = []
        for c in ("l_quantity", "l_extendedprice", "l_discount"):
            cnt, nulls, mn, mx, mean, sd = con.execute(
                f"SELECT count({c}), count(*) - count({c}), min({c}), max({c}), avg({c}), "
                f"stddev_samp({c}) FROM l").fetchone()
            for k, v in (("count", cnt), ("nulls", nulls), ("min", mn), ("max", mx)):
                if row[f"{c}__{k}"] != v:
                    bad.append(f"{c}__{k}")
            if not _close(row[f"{c}__mean"], mean, 1e-9) or not _close(row[f"{c}__stddev"], sd, 1e-9):
                bad.append(f"{c}__mean/stddev")
        rep.add("dq_profile", not bad, ", ".join(bad) or "exact columns match")

    for name, fn in (("dq_metrics", metrics), ("dq_valid", valid_split), ("dq_invalid", invalid_split),
                     ("dq_dup_groups", dup_groups), ("dq_drift", drift), ("dq_profile", profile)):
        rep.guard(name, fn)


# ----------------------------------------------------------- text helpers

def _tokens(text):
    return text.strip(" ").split()


def _fingerprint(text):
    return hashlib.md5(re.sub(r"\s+", " ", text.strip(" ").lower()).encode()).hexdigest()


def _ngrams(toks, n):
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _docs(path):
    t = pq.read_table(path, columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _contaminated(docs, eval_texts, n=8):
    grams = set()
    for e in eval_texts:
        grams |= _ngrams(_tokens(e), n)
    return {i for i, t in docs.items() if _ngrams(_tokens(t), n) & grams}


def _vecs(path):
    t = pq.read_table(path)
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return ids, v


def _recall_at_k(got_rows, q_ids, q_vecs, ids, vecs, k):
    """Share of numpy's brute-force cosine top-k that the returned rows hold."""
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = q_vecs / np.linalg.norm(q_vecs, axis=1, keepdims=True)
    got = defaultdict(set)
    for r in got_rows:
        got[r["query_id"]].add(r["neighbor_id"])
    hits = 0
    for qi, q in zip(q_ids, qn):
        order = np.argsort(-(vn @ q), kind="stable")[:k]
        hits += len(got[int(qi)] & set(ids[order].tolist()))
    return hits / (k * len(q_ids))


# ------------------------------------------------------------ text checks

def _check_boilerplate(docs, table, name, rep, n=3, min_docs=5):
    """Per-doc distinct word n-grams and how many occur in >= min_docs docs."""
    grams = {i: {" ".join(g) for g in _ngrams(_tokens(t), n)} for i, t in docs.items()}
    df = Counter(g for gs in grams.values() for g in gs)
    got = {r["doc_id"]: r for r in table.to_pylist()}
    bad = 0
    for i, gs in grams.items():
        if not gs:
            bad += i in got
            continue
        r = got.get(i)
        nb = sum(1 for g in gs if df[g] >= min_docs)
        if r is None or r["n_grams"] != len(gs) or r["n_boiler"] != nb or \
                abs(r["boiler_ratio"] - nb / len(gs)) > 1e-6:
            bad += 1
    rep.add(name, bad == 0, f"{bad} of {len(docs)} docs differ")


# --------------------------------------------------------- standing_ingest

SEARCH_RECALL_FLOOR = 0.7  # approximate search: a floor, not an equality


def check_standing_ingest(data, out, truths, rep):
    kind = dict(zip(truths["ids"], truths["kind"]))
    evals = list(_docs(f"{data}/eval.parquet").values())
    history, batch = _docs(f"{data}/history.parquet"), _docs(f"{data}/batch.parquet")
    # yesterday's catalog: every history document, ungated
    catalog = {}  # fingerprint -> [first_batch, first_id, n_seen]
    for i, t in sorted(history.items()):
        catalog.setdefault(_fingerprint(t), [0, i, 0])[2] += 1

    def curated():
        gated = {i: t for i, t in batch.items() if kind[i] != "junk"}
        keep = {}
        for i, t in sorted(gated.items()):
            if _fingerprint(t) not in catalog:
                keep.setdefault(_fingerprint(t), i)
        want = set(keep.values()) - _contaminated({i: gated[i] for i in keep.values()}, evals)
        got = _read(out, "si_curated").column("doc_id").to_pylist()
        rep.add("si_curated", sorted(got) == sorted(want), f"{len(got)} docs, want {len(want)}")
        for i, t in sorted(gated.items()):  # today's merge into the catalog
            catalog.setdefault(_fingerprint(t), [1, i, 0])[2] += 1

    def catalog_rows():
        got = {r["fingerprint"]: [r["first_batch"], r["first_id"], r["n_seen"]]
               for r in _read(out, "si_catalog").to_pylist()}
        rep.add("si_catalog", got == catalog, f"{len(got)} fingerprints, want {len(catalog)}")

    def search():
        base_ids, base_v = _vecs(f"{data}/base_vectors.parquet")
        b_ids, b_v = _vecs(f"{data}/batch_vectors.parquet")
        q_ids, q_v = _vecs(f"{data}/queries.parquet")
        dead = set(truths["deletes"])
        ids, v = np.concatenate([base_ids, b_ids]), np.concatenate([base_v, b_v])
        live = np.array([i not in dead for i in ids])
        ids, v = ids[live], v[live]
        rows = _read(out, "si_search").to_pylist()
        known = set(ids.tolist())
        stale = [r for r in rows if r["neighbor_id"] not in known]
        per_q = Counter(r["query_id"] for r in rows)
        rep.recall = _recall_at_k(rows, q_ids, q_v, ids, v, 10)
        ok = not stale and len(per_q) == len(q_ids) and set(per_q.values()) == {10} \
            and rep.recall >= SEARCH_RECALL_FLOOR
        rep.add("si_search", ok, f"recall@10 {rep.recall:.4f}, {len(stale)} deleted or unknown ids returned")

    rep.guard("si_boilerplate",
              lambda: _check_boilerplate(batch, _read(out, "si_boilerplate"), "si_boilerplate", rep))
    rep.guard("si_curated", curated)
    rep.guard("si_catalog", catalog_rows)
    rep.guard("si_search", search)


CHECKERS = {
    "dq_suite": check_dq_suite,
    "standing_ingest": check_standing_ingest,
}


def run(workload, data, out, truths):
    rep = Report()
    CHECKERS[workload](data, out, truths, rep)
    return rep.items, rep.recall
