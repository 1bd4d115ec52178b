"""Seeded input generator for the two benchmark workloads.

Every input the program reads is made here from the seed alone (and
ingest_cycle's corpus from a fixed seed of its own), and the ground truth
the output checks need is written next to it.  Inputs are cached on disk
under `<cache>/<workload>-<size>-s<seed>/` (the corpus under
`<cache>/ingest_cycle-<size>-corpus/`) and reused by later runs.

    python3 perfbench/gen.py --workload collections --seed 7 --out DIR

Sizes follow the shapes the repository records for its sf0.01 test data
(TESTDATA.md), under the role mapping of BASELINE.md ("The data": orders
are collections, lineitem rows are memberships, parts are entities and
the k -> k/2 type tree) and the sf0.01 `documents` table (500 documents,
every tenth one the incoming slice).  perfbench/README.md gives the
figures each constant comes from.
"""

import argparse
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZE = "v6"  # bump when any size or make-up below changes

WD = "http://www.wikidata.org/entity/"
WDT = "http://www.wikidata.org/prop/direct/"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
DESC = "http://schema.org/description"

TYPE_BASE, MEMBER_BASE, COLL_BASE = 1_000_000, 2_000_000, 3_000_000

# collections, sf0.01: 2 000 parts, 15 000 orders, 60 000 lineitems
# (1-7 per order, about 30 per part); types form the parts' k -> k/2
# tree, one in five with a second parent; required types are tree nodes
# 2..31 (`o_orderkey % 30 + 2`); same-name groups hold 2-6 collections.
N_MEMBERS = 2_000
N_TYPES = N_MEMBERS
SECOND_PARENT = 0.2
REQ_TYPES = range(2, 32)
N_COLLS = 15_000
PER_COLL = (1, 7)
SAME_NAME, SAME_NAME_SIZES = 0.3, (2, 6)
N_CATEGORIES = N_COLLS * 15 // 100  # categories whose lists absorb them
N_TOPICS = 40  # member pools, so collections overlap and related lists fill
REDRAW = 10  # day 1 redraws 1 in REDRAW collections' members
N_CHURN = N_COLLS // 100  # collections only on day 0, and only on day 1
TUPLES_PER_INSERT = 100

# ingest_cycle, sf0.01 documents: 450 in the fitted corpus, slices of 50.
# The corpus is made from its own fixed seed; --seed makes the slices.
CORPUS_SEED = 0
ING_CORPUS = 450
ING_CLUSTERS, ING_CLUSTER_CAP = 12, 16
ING_BRIDGE_PAIRS = 15
ING_CHAIN, ING_BENCH = 8, 20
ING_SLICES = 64
ING_SLICE = 50
ING_SLICE_DUPS, ING_SLICE_NEWPAIRS, ING_SLICE_BRIDGES = 11, 4, 3
ING_SLICE_CONTAMINATED, ING_SLICE_SHORT = 3, 2  # plus 1 repetitive; novel fill
LANGS = (("en", 0.41), ("es", 0.15), ("fr", 0.15), ("zh", 0.15), ("de", 0.14))
DIM, N_CENTERS = 64, 24


def vocabulary(rng, n=8000):
    words = set()
    while len(words) < n:
        k = rng.randint(3, 8)
        words.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(k)))
    return sorted(words)


def zipf_sizes(rng, count, cap, a=1.6):
    """Cluster sizes >= 2 with a Zipf tail, largest capped at `cap`."""
    out = []
    for _ in range(count):
        u = rng.random()
        out.append(min(cap, 1 + int((1.0 - u) ** (-1.0 / (a - 1.0)))))
    return [max(2, s) for s in out]


class Words:
    def __init__(self, rng, vocab=None):
        self.rng = rng
        self.vocab = vocab or vocabulary(rng)

    def seq(self, n):
        return [self.rng.choice(self.vocab) for _ in range(n)]

    def variant(self, toks):
        """One token replaced: Jaccard over 3-shingles stays >= 0.8."""
        out = list(toks)
        i = self.rng.randrange(len(out))
        out[i] = self.rng.choice(self.vocab)
        return out


def pick_lang(rng):
    """Languages in the sf0.1 `documents` table's proportions."""
    u = rng.random()
    for lang, share in LANGS:
        u -= share
        if u < 0:
            return lang
    return LANGS[-1][0]


def chain_docs(w, n):
    """Doc i spans blocks i..i+3: neighbours share 3 of 4 blocks (Jaccard
    ~0.59), docs two apart ~0.32, and the two ends share nothing."""
    blocks = [w.seq(15) for _ in range(n + 3)]
    return [sum(blocks[i:i + 4], []) for i in range(n)]


def contaminated(w, bench_doc):
    """48 tokens of a benchmark doc plus 12 fresh: contamination ~0.75."""
    return bench_doc[:48] + w.seq(12)


def write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)


# ---------------------------------------------------------------- collections

def gen_collections(seed, out):
    rng = random.Random(seed * 1_000_003 + 11)
    w = Words(rng)
    # Taxonomy: the k -> k/2 tree over the types, plus a second parent
    # (any smaller id, so the graph stays acyclic) for one type in five:
    # a DAG about 11 levels deep with multiple parents.
    types = [TYPE_BASE + k for k in range(1, N_TYPES + 1)]
    type_edges = []
    for k in range(2, N_TYPES + 1):
        type_edges.append((TYPE_BASE + k, TYPE_BASE + k // 2))
        if k >= 4 and rng.random() < SECOND_PARENT:
            p = rng.randrange(1, k // 2)
            type_edges.append((TYPE_BASE + k, TYPE_BASE + p))
    req_types = [TYPE_BASE + k for k in REQ_TYPES]

    members = list(range(MEMBER_BASE, MEMBER_BASE + N_MEMBERS))
    member_type = {m: rng.choice(types) for m in members}
    member_name = {m: "_".join(w.seq(2)) for m in members}
    # 4% of the linked members have no entity rows: they count invalid.
    unknown = set(rng.sample(members, N_MEMBERS // 25))
    score = {m: rng.randint(1, 100_000) for m in members}

    colls = list(range(COLL_BASE, COLL_BASE + N_COLLS))
    coll_name = {}
    order = list(colls)
    rng.shuffle(order)
    while order:
        size = (rng.randint(*SAME_NAME_SIZES) if rng.random() < SAME_NAME else 1)
        name = "List of " + " ".join(w.seq(3))
        for c in order[:size]:
            coll_name[c] = name
        del order[:size]
    coll_type = {c: rng.choice(req_types) for c in colls}
    cats = rng.sample(colls, N_CATEGORIES)
    cat_set = set(cats)
    lists = [c for c in colls if c not in cat_set]
    relations = []
    for cat in cats:
        for lst in rng.sample(lists, rng.choice([1, 1, 1, 2])):
            relations.append((cat, lst))

    # Members come from one of N_TOPICS pools per collection, so
    # collections of a topic overlap and the related lists fill up.
    topics = [members[k::N_TOPICS] for k in range(N_TOPICS)]

    def draw(day_rng, c):
        n = day_rng.randint(*PER_COLL)
        return [(c, m, score[m]) for m in day_rng.sample(topics[c % N_TOPICS], n)]

    # Day 0 and day 1 share the shape; day 1 draws fresh memberships
    # for a tenth of the collections, so the diff has every op kind.
    d0rng = random.Random(seed * 7 + 1)
    day0 = [r for c in colls for r in draw(d0rng, c)]
    redraw = set(rng.sample(colls, N_COLLS // REDRAW))
    d1rng = random.Random(seed * 7 + 2)
    day1 = [r for r in day0 if r[0] not in redraw]
    for c in sorted(redraw):
        day1.extend(draw(d1rng, c))
    # Collections that exist only on one of the two days.
    gone = set(rng.sample(lists, N_CHURN))
    born = set(rng.sample([c for c in lists if c not in gone], N_CHURN))

    def write_day(day, rows, skip_colls):
        d = os.path.join(out, f"day{day}")
        os.makedirs(d)
        lines = []
        for t, p in type_edges:
            lines.append(f"<{WD}Q{t}> <{WDT}P279> <{WD}Q{p}> .")
        for t in types:
            lines.append(f'<{WD}Q{t}> <{LABEL}> "type {t}"@en .')
        for m in members:
            if m in unknown:
                continue
            lines.append(f"<{WD}Q{m}> <{WDT}P31> <{WD}Q{member_type[m]}> .")
            lines.append(f'<{WD}Q{m}> <{LABEL}> "{member_name[m]}"@en .')
            if m % 5 == 0:
                lines.append(f'<{WD}Q{m}> <{DESC}> "a \\"quoted\\" note"@en .')
        live = [c for c in colls if c not in skip_colls]
        for c in live:
            lines.append(f"<{WD}Q{c}> <{WDT}P360> <{WD}Q{coll_type[c]}> .")
            lines.append(f'<{WD}Q{c}> <{LABEL}> "{coll_name[c]}"@en .')
        for cat, lst in relations:
            lines.append(f"<{WD}Q{cat}> <{WDT}P1754> <{WD}Q{lst}> .")
        rng_lines = random.Random(seed * 13 + day)
        rng_lines.shuffle(lines)
        with open(os.path.join(d, "triples.nt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        live_set = set(live)
        links = [r for r in rows if r[0] in live_set]
        sql = ["-- MySQL dump", "CREATE TABLE `pagelinks` (`pl_from` int(8),"
               " `pl_namespace` int(11), `pl_title` varbinary(255), KEY (`pl_from`));"]
        for i in range(0, len(links), TUPLES_PER_INSERT):
            chunk = links[i:i + TUPLES_PER_INSERT]
            vals = ",".join(
                f"({c},0,'Q{m}','{member_name[m]}_(x)',{s})" for c, m, s in chunk)
            sql.append(f"INSERT INTO `pagelinks` VALUES {vals};")
        with open(os.path.join(d, "pagelinks.sql"), "w") as f:
            f.write("\n".join(sql) + "\n")
        # Ground truth for the output checks.
        write_parquet(os.path.join(d, "truth_members.parquet"), {
            "collection_id": [r[0] for r in links],
            "member_id": [r[1] for r in links],
            "score": [float(r[2]) for r in links]})
        write_parquet(os.path.join(d, "truth_collections.parquet"), {
            "collection_id": live,
            "collection_name": [coll_name[c] for c in live],
            "required_type": [coll_type[c] for c in live]})
        return len(lines) + len(links)

    rows0 = write_day(0, day0, born)
    rows1 = write_day(1, day1, gone)
    known = [m for m in members if m not in unknown]
    write_parquet(os.path.join(out, "truth_entities.parquet"), {
        "member_id": known, "member_type": [member_type[m] for m in known]})
    write_parquet(os.path.join(out, "truth_type_edges.parquet"), {
        "src": [e[0] for e in type_edges], "dst": [e[1] for e in type_edges]})
    write_parquet(os.path.join(out, "truth_relations.parquet"), {
        "category_id": [r[0] for r in relations], "list_id": [r[1] for r in relations]})
    return {"rows_per_pass": [rows0, rows1]}


# --------------------------------------------------------------- ingest_cycle

def ingest_corpus():
    """The fitted corpus, its benchmark documents and embedding centres:
    the same for every seed, so one store fitted per build serves every
    run.  Returns the token lists and ids, the bridge parts, the
    benchmark documents, the vocabulary and the centres."""
    rng = random.Random(CORPUS_SEED * 1_000_003 + 33)
    nrng = np.random.default_rng(CORPUS_SEED)
    w = Words(rng)
    corpus = []  # token lists; ids assigned below (never multiples of 10)
    for size in zipf_sizes(rng, ING_CLUSTERS, ING_CLUSTER_CAP):
        base = w.seq(rng.randint(40, 70))
        corpus.append(base)
        for _ in range(size - 1):
            corpus.append(w.variant(base))
    corpus.extend(chain_docs(w, ING_CHAIN))
    bench = [w.seq(rng.randint(50, 70)) for _ in range(ING_BENCH)]
    # Bridge targets: A = x+m and B = m+y share m (Jaccard ~0.31); a
    # slice doc x+m+y is a near-duplicate of both (~0.66 each).
    bridges = []
    for _ in range(ING_BRIDGE_PAIRS):
        x, m, y = w.seq(20), w.seq(20), w.seq(20)
        corpus.append(x + m)
        corpus.append(m + y)
        bridges.append((x, m, y))
    while len(corpus) < ING_CORPUS:
        corpus.append(w.seq(rng.randint(30, 70)))
    order = list(range(len(corpus)))
    rng.shuffle(order)
    corpus = [corpus[i] for i in order]
    ids, k = [], 1
    while len(ids) < len(corpus):
        if k % 10:
            ids.append(k)
        k += 1
    centers = nrng.normal(size=(N_CENTERS, DIM))
    cvec = embed(nrng, centers, len(corpus))
    return corpus, ids, cvec, bridges, bench, w.vocab, centers


def embed(nrng, centers, n):
    c = nrng.integers(0, N_CENTERS, size=n)
    return (centers[c] + 0.35 * nrng.normal(size=(n, DIM))).astype(np.float32)


EMB_TYPE = pa.list_(pa.float32())


def write_corpus(out):
    corpus, ids, cvec, _, bench, _, _ = ingest_corpus()
    write_parquet(os.path.join(out, "documents.parquet"), {
        "doc_id": ids, "text": [" ".join(t) for t in corpus]})
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(cvec.tolist(), EMB_TYPE)}),
        os.path.join(out, "embeddings.parquet"))
    write_parquet(os.path.join(out, "bench.parquet"), {
        "doc_id": list(range(1, ING_BENCH + 1)), "text": [" ".join(t) for t in bench]})
    return {"documents": len(ids)}


def gen_ingest(seed, out):
    """The seed's slices against the shared corpus (`corpus/`, a link to
    the one corpus directory of this size)."""
    corpus, _, _, bridges, bench, vocab, centers = ingest_corpus()
    os.symlink(os.path.join("..", f"ingest_cycle-{SIZE}-corpus"), os.path.join(out, "corpus"))
    rng = random.Random(seed * 1_000_003 + 33)
    nrng = np.random.default_rng(seed)
    w = Words(rng, vocab)

    s_ids, s_cycle, s_lang, s_text, s_role = [], [], [], [], []
    next_id = 100_000
    for c in range(ING_SLICES):
        rows = []
        for _ in range(ING_SLICE_DUPS):
            rows.append((w.variant(rng.choice(corpus)), "dup_old"))
        for _ in range(ING_SLICE_NEWPAIRS):
            base = w.seq(rng.randint(40, 70))
            rows.append((base, "dup_new"))
            rows.append((w.variant(base), "dup_new"))
        for x, m, y in rng.sample(bridges, ING_SLICE_BRIDGES):
            rows.append((x + m + y, "bridge"))
        for _ in range(ING_SLICE_CONTAMINATED):
            rows.append((contaminated(w, rng.choice(bench)), "contaminated"))
        for _ in range(ING_SLICE_SHORT):
            rows.append((w.seq(rng.randint(6, 20)), "short"))
        rows.append((w.seq(4) * rng.randint(10, 16), "repetitive"))
        while len(rows) < ING_SLICE:
            rows.append((w.seq(rng.randint(30, 70)), "novel"))
        rng.shuffle(rows)
        for toks, role in rows:
            s_ids.append(next_id * 10)
            next_id += 1
            s_cycle.append(c)
            s_lang.append(pick_lang(rng))
            s_text.append(" ".join(toks))
            s_role.append(role)
    svec = embed(nrng, centers, len(s_ids))
    write_parquet(os.path.join(out, "slices.parquet"), {
        "cycle": s_cycle, "doc_id": s_ids, "lang": s_lang, "text": s_text})
    pq.write_table(pa.table({
        "cycle": pa.array(s_cycle, pa.int32()),
        "vec_id": pa.array(s_ids, pa.int64()),
        "embedding": pa.array(svec.tolist(), EMB_TYPE)}),
        os.path.join(out, "slice_embeddings.parquet"))
    write_parquet(os.path.join(out, "truth_slices.parquet"), {
        "doc_id": s_ids, "cycle": s_cycle, "role": s_role})
    return {"rows_per_pass": len(s_ids) // ING_SLICES, "slices": ING_SLICES}


GENERATORS = {"collections": gen_collections, "ingest_cycle": gen_ingest}


def _ensure(d, make):
    """Return the meta of directory `d`, made by `make(tmp_dir)` once."""
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = make(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return meta


def ensure_corpus(cache):
    """Return the directory of ingest_cycle's shared corpus, made once."""
    os.makedirs(cache, exist_ok=True)
    d = os.path.join(cache, f"ingest_cycle-{SIZE}-corpus")
    _ensure(d, write_corpus)
    return d


def ensure_inputs(workload, seed, cache):
    """Return (dir, meta) for the workload's inputs, generating them once."""
    if workload == "ingest_cycle":
        ensure_corpus(cache)

    def make(tmp):
        meta = GENERATORS[workload](seed, tmp)
        meta.update({"workload": workload, "seed": seed, "size": SIZE})
        return meta
    d = os.path.join(cache, f"{workload}-{SIZE}-s{seed}")
    return d, _ensure(d, make)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(ensure_inputs(a.workload, a.seed, a.out))


if __name__ == "__main__":
    main()
