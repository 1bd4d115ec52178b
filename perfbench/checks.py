"""Output checks, made apart from the program.

Each check recomputes what a pass must have produced from the generator's
ground truth (DuckDB SQL, plain Python or numpy), never from the program's
own code.  `check(workload, inputs, run_dir, passes)` returns, for every
timed pass index, None when its outputs are right or the first problem.
"""

import glob
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa

WS = re.compile(r"[ \t\n\x0B\f\r]+")


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path):
    return "'" + path.replace("'", "''") + "'"


# ---------------------------------------------------------------- collections

EXPECTED_COUNTS_SQL = """
WITH RECURSIVE
rel AS (SELECT * FROM read_parquet({rel})),
colls AS (SELECT * FROM read_parquet({colls})),
mem_raw AS (SELECT * FROM read_parquet({mem})),
ents AS (SELECT * FROM read_parquet({ents})),
edges AS (SELECT * FROM read_parquet({edges})),
sound AS (
  SELECT category_id, min(list_id) AS list_id FROM rel
  WHERE list_id IN (SELECT collection_id FROM colls)
    AND list_id NOT IN (SELECT category_id FROM rel)
  GROUP BY 1),
merged AS (SELECT list_id, least(list_id, min(category_id)) AS new_id
           FROM sound GROUP BY 1),
remap AS (SELECT s.category_id AS old_id, m.new_id FROM sound s JOIN merged m USING (list_id)
          UNION ALL SELECT list_id, new_id FROM merged),
surv AS (SELECT coalesce(r.new_id, c.collection_id) AS collection_id,
                c.collection_name, c.required_type
         FROM colls c LEFT JOIN remap r ON c.collection_id = r.old_id
         WHERE c.collection_id NOT IN (SELECT category_id FROM sound)),
mem AS (SELECT coalesce(r.new_id, m.collection_id) AS collection_id, m.member_id
        FROM mem_raw m LEFT JOIN remap r ON m.collection_id = r.old_id
        GROUP BY 1, 2),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
typed AS (
  SELECT s.collection_id, s.collection_name,
         coalesce(e.member_type = s.required_type
                  OR (e.member_type, s.required_type) IN (SELECT (src, dst) FROM reach),
                  false) AS valid
  FROM mem JOIN surv s USING (collection_id)
  LEFT JOIN ents e USING (member_id)),
per_coll AS (
  SELECT s.collection_name,
         count(*) FILTER (WHERE t.valid) AS valid_cnt,
         count(*) FILTER (WHERE t.valid IS NOT NULL AND NOT t.valid) AS invalid_cnt
  FROM surv s LEFT JOIN typed t USING (collection_id)
  GROUP BY s.collection_id, s.collection_name)
SELECT collection_name, sum(valid_cnt)::BIGINT AS valid_cnt,
       sum(invalid_cnt)::BIGINT AS invalid_cnt
FROM per_coll GROUP BY 1
"""

PAYLOAD = ["collection_name", "valid_cnt", "invalid_cnt", "rank", "top_members",
           "namehash", "banner_number", "related"]
OPS_SCHEMA = pa.schema([
    ("stable_id", pa.int64()), ("op", pa.string()), ("collection_name", pa.string()),
    ("valid_cnt", pa.int64()), ("invalid_cnt", pa.int64()), ("rank", pa.float64()),
    ("top_members", pa.string()), ("namehash", pa.string()),
    ("banner_number", pa.int64()), ("related", pa.string())])


def _read_ops(bulk_dir):
    """Parse ES bulk NDJSON into (id, op, payload...) rows."""
    rows = []
    for f in sorted(glob.glob(os.path.join(bulk_dir, "part-*"))):
        with open(f) as fh:
            lines = [l for l in fh.read().split("\n") if l]
        if len(lines) % 2:
            raise ValueError(f"odd bulk line count in {f}")
        for a, d in zip(lines[0::2], lines[1::2]):
            action, doc = json.loads(a), json.loads(d)
            kind = next(iter(action))
            sid = int(action[kind]["_id"])
            if kind == "index":
                rows.append([sid, "insert"] + [doc.get(k) for k in PAYLOAD])
            elif doc.get("doc") == {"archived": True}:
                rows.append([sid, "archive"] + [None] * len(PAYLOAD))
            else:
                rows.append([sid, "update"] + [doc["doc"].get(k) for k in PAYLOAD])
    return rows


def _pass_dir(run_dir, i):
    for kind in ("timed", "warm"):
        d = os.path.join(run_dir, f"{kind}-{i}")
        if os.path.isdir(d):
            return d
    raise FileNotFoundError(f"no output directory for pass {i}")


def check_collections(inputs, run_dir, passes):
    con = _con()
    for day in (0, 1):
        dd = os.path.join(inputs, f"day{day}")
        con.execute(f"CREATE TABLE expected{day} AS " + EXPECTED_COUNTS_SQL.format(
            rel=_pq(os.path.join(inputs, "truth_relations.parquet")),
            colls=_pq(os.path.join(dd, "truth_collections.parquet")),
            mem=_pq(os.path.join(dd, "truth_members.parquet")),
            ents=_pq(os.path.join(inputs, "truth_entities.parquet")),
            edges=_pq(os.path.join(inputs, "truth_type_edges.parquet"))))
    cols = "stable_id, " + ", ".join(PAYLOAD)
    out = {}
    for i in passes:
        try:
            out[i] = _check_collections_pass(con, i, run_dir, cols)
        except Exception as e:  # a pass whose outputs cannot be read failed
            out[i] = f"{type(e).__name__}: {e}"
    return out


def _check_collections_pass(con, i, run_dir, cols):
    """Pass i rebuilt day i % 2 and diffed it against pass i - 1's snapshot."""
    d = _pass_dir(run_dir, i)
    con.execute(f"CREATE OR REPLACE TABLE cur AS SELECT {cols} FROM read_parquet("
                f"{_pq(os.path.join(d, 'snapshot', '*.parquet'))})")
    con.execute(f"CREATE OR REPLACE TABLE prev AS SELECT {cols} FROM read_parquet("
                f"{_pq(os.path.join(_pass_dir(run_dir, i - 1), 'snapshot', '*.parquet'))})")
    expected = f"expected{i % 2}"
    bad = con.execute(f"""
        SELECT count(*) FROM (
          (SELECT collection_name, valid_cnt, invalid_cnt FROM cur
           EXCEPT SELECT * FROM {expected})
          UNION ALL
          (SELECT * FROM {expected}
           EXCEPT SELECT collection_name, valid_cnt, invalid_cnt FROM cur))""").fetchone()[0]
    if bad:
        return f"{bad} collections' valid/invalid counts differ from the reachability replay"
    ops = _read_ops(os.path.join(d, "bulk"))
    ops_in = pa.table([pa.array(list(c), t) for c, t in
                       zip(zip(*ops) if ops else [()] * len(OPS_SCHEMA), OPS_SCHEMA.types)],
                      schema=OPS_SCHEMA)
    con.execute("CREATE OR REPLACE TABLE ops AS SELECT * FROM ops_in")
    bad = con.execute(f"""
        WITH applied AS (
          SELECT {cols} FROM prev WHERE stable_id NOT IN (SELECT stable_id FROM ops)
          UNION ALL
          SELECT {cols} FROM ops WHERE op IN ('insert', 'update'))
        SELECT count(*) FROM (
          (SELECT * FROM applied EXCEPT ALL SELECT * FROM cur)
          UNION ALL (SELECT * FROM cur EXCEPT ALL SELECT * FROM applied))""").fetchone()[0]
    if bad:
        return f"{bad} rows differ between prev+ops and the current snapshot"
    kinds = {o[1] for o in ops}
    if not {"insert", "update", "archive"} <= kinds:
        return f"the diff emitted only {sorted(kinds)}: day-to-day changes were lost"
    for (related,) in con.execute("SELECT related FROM cur").fetchall():
        entries = [e for e in related.split(",") if e]
        kinds = [e.split(":")[1] for e in entries]
        if len(entries) > 10 or any(kinds.count(k) > 2 for k in set(kinds)):
            return f"related list breaks the 10 / 2-per-type caps: {related}"
    return None


# --------------------------------------------------------------- ingest_cycle

GATE_SQL = r"""
CREATE TABLE gate AS
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''),
           '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
  FROM {docs}),
s AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, greatest(len(toks), 1)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS g2
  FROM t),
top AS (
  SELECT doc_id, max(c) AS top FROM (
    SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(g2) AS g FROM s)
    GROUP BY 1, 2) GROUP BY 1)
SELECT s.doc_id,
       s.n >= 25 AND s.n <= 5000
       AND list_sum(list_transform(toks, x -> length(x))) / s.n BETWEEN 3.0 AND 8.0
       AND 1.0 - len(list_distinct(toks)) / s.n <= 0.6
       AND coalesce(top.top / len(g2), 0.0) <= 0.05 AS keep
FROM s LEFT JOIN top USING (doc_id)
"""


def _bucket(doc_id):
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def _shingles(text):
    toks = [t for t in WS.split(text or "") if t]
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        if p != x:
            p = self.parent[x] = self.find(p)
        return p

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)  # root = smallest id


def _near(sets, index, probe, tau=0.5):
    """Ids in `index` with Jaccard >= tau against the shingle set `probe`."""
    shared = {}
    for s in probe:
        for j in index.get(s, ()):
            shared[j] = shared.get(j, 0) + 1
    return [j for j, c in shared.items() if c / (len(probe) + len(sets[j]) - c) >= tau]


def check_ingest(inputs, run_dir, passes):
    con = _con()

    def read(name, cols):
        return con.execute(f"SELECT {cols} FROM read_parquet("
                           f"{_pq(os.path.join(inputs, name))})").fetchall()

    sets = {i: _shingles(t) for i, t in read("corpus/documents.parquet", "doc_id, text")}
    index = {}
    for i, s in sets.items():
        for sh in s:
            index.setdefault(sh, []).append(i)
    base = _UnionFind()
    for i, s in sets.items():
        for j in _near(sets, index, s):
            if j != i:
                base.union(i, j)
    bench = set().union(*(_shingles(t) for (t,) in read("corpus/bench.parquet", "text")))
    con.execute(GATE_SQL.format(docs=f"read_parquet({_pq(os.path.join(inputs, 'slices.parquet'))})"))
    keep = dict(con.execute("SELECT doc_id, keep FROM gate").fetchall())
    roles = dict(read("truth_slices.parquet", "doc_id, role"))
    slices = {}
    for doc_id, cycle, lang, text in read("slices.parquet", "doc_id, cycle, lang, text"):
        slices.setdefault(cycle, []).append((doc_id, lang, text))
    emb = {vid: np.asarray(vec, dtype=np.float64)
           for vid, vec in read("slice_embeddings.parquet", "vec_id, embedding")}
    ctx = {"sets": sets, "index": index, "base": base, "bench": bench, "keep": keep,
           "roles": roles, "slices": slices, "emb": emb, "centroids": {}}
    out = {}
    for i in passes:
        try:
            out[i] = _check_ingest_pass(con, os.path.join(run_dir, f"timed-{i}"), ctx)
        except Exception as e:
            out[i] = f"{type(e).__name__}: {e}"
    return out


def _check_ingest_pass(con, d, ctx):
    with open(os.path.join(d, "verdicts.jsonl")) as f:
        head = json.loads(f.readline())
        rows = {r["doc_id"]: r for r in map(json.loads, f)}
    docs = ctx["slices"][head["cycle"]]
    if set(rows) != {doc for doc, _, _ in docs}:
        return "verdict rows do not cover the slice exactly"
    sets, index = ctx["sets"], ctx["index"]
    uf = _UnionFind()
    uf.parent = dict(ctx["base"].parent)
    ssets = {doc: _shingles(t) for doc, _, t in docs}
    sindex = {}
    for doc, s in ssets.items():
        for sh in s:
            sindex.setdefault(sh, []).append(doc)
    paired = set()
    for doc, s in ssets.items():
        olds = _near(sets, index, s)
        news = [j for j in _near(ssets, sindex, s) if j != doc]
        if rows[doc]["n_dup_old"] != len(olds):
            return f"doc {doc}: n_dup_old {rows[doc]['n_dup_old']}, replay {len(olds)}"
        for j in olds + news:
            uf.union(doc, j)
            paired.add(doc)
    want_accepted = set()
    for doc, lang, _ in docs:
        r, role = rows[doc], ctx["roles"][doc]
        if role == "dup_old" and r["n_dup_old"] < 1:
            return f"planted near-duplicate {doc} has n_dup_old 0"
        if role == "novel" and r["n_dup_old"] != 0:
            return f"novel doc {doc} has n_dup_old {r['n_dup_old']}"
        want = uf.find(doc) if doc in paired else None
        if r.get("component") != want:
            return f"doc {doc}: component {r.get('component')}, union-find {want}"
        s = ssets[doc]
        clean = not s or len(s & ctx["bench"]) / len(s) < 0.5
        if role == "contaminated" and clean:
            return f"planted contaminated doc {doc} replays as clean"
        if ctx["keep"][doc] and clean and r["n_dup_old"] == 0 and want in (None, doc):
            want_accepted.add((doc, lang))
    got = set(con.execute(f"SELECT doc_id, lang FROM read_parquet("
                          f"{_pq(os.path.join(d, 'accepted', '**', '*.parquet'))}, "
                          f"hive_partitioning = true)").fetchall())
    if got != want_accepted:
        return f"accepted documents differ from the replay ({len(got ^ want_accepted)} ids)"
    sample = {r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet({_pq(os.path.join(d, 'sample', '*.parquet'))})"
    ).fetchall()}
    if sample != {doc for doc, lang in got if _bucket(doc) < (50 if lang == "en" else 20)}:
        return "sample differs from the md5-bucket replay"
    root = head["root"]
    if root not in ctx["centroids"]:
        cent = con.execute(f"SELECT cid, cvec FROM read_parquet("
                           f"{_pq(os.path.join(root, 'centroids', '*.parquet'))})").fetchall()
        ctx["centroids"][root] = (np.array([c for c, _ in cent]),
                                  np.array([v for _, v in cent], dtype=np.float64))
    cids, cvecs = ctx["centroids"][root]
    for doc, _, _ in docs:
        v = ctx["emb"][doc]
        dots = cvecs @ (v / np.linalg.norm(v))
        k = np.nonzero(cids == rows[doc]["cid"])[0]
        if len(k) != 1 or dots[k[0]] < dots.max() - 1e-6:
            return f"doc {doc}: cid {rows[doc]['cid']} is not the nearest reloaded centroid"
    return None


CHECKS = {"collections": check_collections, "ingest_cycle": check_ingest}


def check(workload, inputs, run_dir, passes):
    return CHECKS[workload](inputs, run_dir, passes)
