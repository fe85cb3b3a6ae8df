"""Correctness oracle: DuckDB twins of every benchmark op over the same
generated inputs, plus the replay of the table_ingest commit sequence.

Every checked op reports (row count, checksum).  The checksum is the one
the JVM harness computes (graftbench.Chk): per row
h = fold((h * M + coalesce(c, NULL_V)) % P) over the integral columns,
summed over the rows, so it is independent of row order.
"""
import json
import os

import duckdb
import numpy as np

import gen

P = 2147483647
M = 1000003
NULL_V = 2147483646


def row_hash_sql(cols):
    h = "0"
    for c in cols:
        h = f"(({h}) * {M} + coalesce(CAST({c} AS BIGINT), {NULL_V})) % {P}"
    return h


def agg_sql(body, cols):
    return (f"SELECT count(*), CAST(coalesce(sum({row_hash_sql(cols)}), 0) AS BIGINT) "
            f"FROM ({body})")


def _con(in_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t, f in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{f}')")
    return con


# ------------------------------------------------------------- theta_join
def theta_twins(p):
    m, t = p["ineq_rows"], p["theta_rows"]
    be, se = p["band_eps"], p["sql_eps"]
    return {
        "band": f"SELECT lid, rid FROM l JOIN r ON r.rv BETWEEN l.lv - {be} AND l.lv + {be}",
        "band_sql": f"SELECT lid, rid FROM l JOIN r ON r.rz BETWEEN l.lz - {se} AND l.lz + {se}",
        "ineq": f"SELECT lid, rid FROM (FROM l WHERE lid < {m}) a "
                f"JOIN (FROM r WHERE rid < {m}) b ON a.lz < b.rz",
        "interval": "SELECT lid, rid FROM l JOIN r ON l.lt < r.rend AND r.rt < l.lend",
        "point_in_interval": "SELECT lid, rid FROM l JOIN r ON l.lt >= r.rt AND l.lt < r.rend",
        "asof": "SELECT lid, rid FROM l ASOF LEFT JOIN r ON l.lk = r.rk AND l.lt > r.rt",
        "theta1b": f"SELECT lid, rid FROM (FROM l WHERE lid < {t}) a "
                   f"JOIN (FROM r WHERE rid < {t}) b "
                   f"ON (lid * 31 + rid * 17) % 1000 < 2 AND a.lv < b.rv",
    }


def theta_expected(in_dir, p):
    con = _con(in_dir, {"l": "l.parquet", "r": "r.parquet"})
    return {op: tuple(con.execute(agg_sql(sql, ["lid", "rid"])).fetchone())
            for op, sql in theta_twins(p).items()}


# ----------------------------------------------------------- llm_curation
def llm_expected(in_dir, oracle_sql, chk_cols):
    """(count, checksum) per checked llm op, and the exact top-5
    neighbours per query for the ANN recall."""
    con = _con(in_dir, {"documents": "documents.parquet",
                        "embeddings": "embeddings.parquet"})
    exp = {op: tuple(con.execute(agg_sql(sql, chk_cols[op])).fetchone())
           for op, sql in oracle_sql.items() if op in chk_cols}
    exact = {}
    for qid, nid in con.execute(
            f"SELECT qid, nid FROM ({oracle_sql['similarity_topk']})").fetchall():
        exact.setdefault(qid, set()).add(nid)
    n_vec = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    return exp, exact, n_vec


def ann_check(rows, exact, n_vec, k=5):
    """Recall@k against the exact top-k, or None when the result is not a
    well-formed top-k (k distinct valid neighbours per query, never the
    query itself)."""
    got = {}
    for qid, nid in rows:
        if nid == qid or not 0 <= nid < n_vec:
            return None
        got.setdefault(qid, set()).add(nid)
    if set(got) != set(exact) or any(len(v) != k for v in got.values()):
        return None
    return sum(len(got[q] & exact[q]) for q in exact) / (k * len(exact))


# ----------------------------------------------------------- table_ingest
class IngestReplay:
    """Replays the logged commit sequence with the generator formulas and
    yields the expected (count, checksum) of every read and of the head."""

    def __init__(self, seed, records, finish_head):
        self.seed = seed % 1000003
        self.records = records
        self.needed = {r["read_version"] for r in records if "read_version" in r}
        self.needed.add(finish_head)
        self.snap = {}

    @staticmethod
    def checksum(key, v, p):
        h = key % P
        h = (h * M + v) % P
        h = (h * M + p) % P
        return int(len(key)), int(h.sum())

    def run(self):
        v_arr = np.zeros(0, np.int64)
        p_arr = np.zeros(0, np.int64)
        live = np.zeros(0, bool)
        expected = []
        for r in self.records:
            if r.get("error"):
                expected.append(None)
                continue
            kind = r.get("kind")
            if kind in ("base", "append", "merge"):
                key, v, pay = gen.ingest_batch(self.seed, kind, r["idx"], r["next_key"])
                top = int(key.max()) + 1
                if top > len(v_arr):
                    grow = top - len(v_arr)
                    v_arr = np.concatenate([v_arr, np.zeros(grow, np.int64)])
                    p_arr = np.concatenate([p_arr, np.zeros(grow, np.int64)])
                    live = np.concatenate([live, np.zeros(grow, bool)])
                v_arr[key], p_arr[key], live[key] = v, pay, True
            if kind is not None and r.get("version") is not None \
                    and r["version"] in self.needed:
                self.snap[r["version"]] = (v_arr.copy(), p_arr.copy(), live.copy())
            expected.append(self._read(r) if "read_version" in r else None)
        return expected

    def _read(self, r):
        if r["read_version"] not in self.snap:
            return (-1, -1)
        v, p, live = self.snap[r["read_version"]]
        mask = live.copy()
        if r["op"] == "range":
            mask &= (v >= r["lo"]) & (v <= r["hi"])
        key = np.nonzero(mask)[0].astype(np.int64)
        return self.checksum(key, v[key], p[key])

    def head(self, version):
        v, p, live = self.snap[version]
        key = np.nonzero(live)[0].astype(np.int64)
        return self.checksum(key, v[key], p[key])


def _files(root):
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.endswith(".crc") and f != "_SUCCESS":
                yield os.path.join(d, f)


def tree_bytes(root):
    return sum(os.path.getsize(f) for f in _files(root))


def log_record(table, version):
    path = os.path.join(table, "log", f"v{version:05d}.json")
    with open(path) as f:
        return json.load(f), os.path.getsize(path)


def prune_ratio(table, version, lo, hi):
    """Share of the manifest's dirs that readRange skips for [lo, hi],
    from the zone map in the on-disk commit record."""
    rec, _ = log_record(table, version)
    dirs = rec["dirs"]
    stats = rec.get("stats", {})
    kept = sum(1 for d in dirs if d not in stats or (stats[d][1] >= lo and stats[d][0] <= hi))
    return 1.0 - kept / len(dirs) if dirs else 0.0
