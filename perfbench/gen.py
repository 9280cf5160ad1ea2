"""Seeded inputs for the engine benchmark.

Three kinds of input, all deterministic in their seed:

* the fixed star-schema tables (``tables``) the inventory queries read.
  They follow the schemas and value distributions of the engine's
  driver-generated test tables (TESTDATA.md / FIXTURES.md) and are
  generated with a fixed seed, so every workload seed queries the same
  data;
* the Gutenberg-style text corpus of ``mr_books`` (``corpus``), drawn from
  the workload seed: Zipf vocabulary, BOMs, blank lines and whitespace
  runs;
* the operation sequence of each workload (``plan_ops``), drawn from the
  workload seed (the job server's mix is fixed; see JOBSERVER_MIX).
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir, sf):
    """Write the ten tables at scale factor ``sf`` as one-row-group parquet
    files (the engine's scans rely on single-row-group landings)."""
    sf = float(sf)
    rng = np.random.default_rng([TABLE_SEED, int(round(sf * 1000))])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = 500 if sf <= 0.01 else int(50000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20000 * sf)
    n_user = int(15000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    disc = np.round(np.clip(np.round(rng.uniform(-0.005, 0.105, n_line), 2), 0, 0.1), 2)
    tax = np.round(np.clip(np.round(rng.uniform(-0.005, 0.085, n_line), 2), 0, 0.08), 2)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499)})
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # 5% of the documents are a copy of another one plus a trailing "dup"
    # token: the near-duplicate pairs the dedup and graph families find
    texts = []
    for i in range(n_doc):
        texts.append(" ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 101)))))
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)


def ensure_tables(data_root, sfs):
    """Generate each scale once per checkout; a marker file makes a
    half-written directory count as missing."""
    for sf in sfs:
        d = os.path.join(data_root, f"sf{sf}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            write_tables(d, sf)
            open(os.path.join(d, "_DONE"), "w").close()


# ---- mr_books corpus -------------------------------------------------------

CORPUS_FILES = 16
CORPUS_TOKENS = 600_000
_SYLLABLES = ["th", "an", "er", "on", "re", "in", "ed", "nd", "ha", "at",
              "en", "es", "of", "or", "nt", "ea", "ti", "to", "it", "st"]
_PUNCT = ["", "", "", "", "", ",", ".", ";", "!", "?", ":", "'s"]


def corpus_texts(seed, n_files=CORPUS_FILES, n_tokens=CORPUS_TOKENS):
    """(file name, text) pairs: a Zipf(1.1) vocabulary of syllable words
    with attached punctuation, lines of 4-14 tokens, occasional blank
    lines and tab/space runs, and a UTF-8 BOM on every third file."""
    rng = random.Random(seed)
    vocab = []
    seen = set()
    while len(vocab) < 20000:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4)))
        w = w.capitalize() if rng.random() < 0.1 else w
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]
    cum = np.cumsum(weights)
    cum /= cum[-1]
    nprng = np.random.default_rng(seed)
    ranks = np.searchsorted(cum, nprng.random(n_tokens))
    punct = nprng.integers(0, len(_PUNCT), n_tokens)
    per_file = n_tokens // n_files
    files = []
    for f in range(n_files):
        lo = f * per_file
        hi = n_tokens if f == n_files - 1 else lo + per_file
        out = ["\ufeff"] if f % 3 == 0 else []
        i = lo
        while i < hi:
            n = min(rng.randint(4, 14), hi - i)
            words = [vocab[ranks[j]] + _PUNCT[punct[j]] for j in range(i, i + n)]
            sep = "  " if rng.random() < 0.05 else (" \t " if rng.random() < 0.02 else " ")
            out.append(sep.join(words))
            out.append("\n\n" if rng.random() < 0.08 else "\n")
            i += n
        files.append((f"book{f:02d}.txt", "".join(out)))
    return files


def ensure_corpus(root, seed):
    d = os.path.join(root, f"seed{seed}-{CORPUS_FILES}x{CORPUS_TOKENS}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        for name, text in corpus_texts(seed):
            with open(os.path.join(d, name), "w", encoding="utf-8", newline="") as f:
                f.write(text)
        # the marker is not a corpus file: Spark's text readers skip
        # names starting with "_"
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ---- operation plans -------------------------------------------------------

BAND_WIDTH = 4
MR_JOBS = ["ta_wordcount", "ta_invindex", "mr_wordcount", "mr_invindex", "kv_wordcount"]


def _banded(rng, names, costs, bands, width=BAND_WIDTH):
    """One seeded pick from each of `bands` narrow cost bands. The pool is
    sorted by measured cost (query_costs.json); band b is the run of
    `width` consecutive queries, starting within `width` places of
    quantile (b + 0.5) / bands, whose costs are closest together. Every
    seed so draws the same cost profile, which keeps a run's totals
    comparable across seeds while the seed still picks the queries. Names
    without a measured cost are left out of the pool."""
    pool = sorted((n for n in names if n in costs), key=lambda n: (costs[n], n))
    width = min(width, len(pool))
    picks = []
    for q in [(b + 0.5) / bands for b in range(bands)]:
        mid = int(q * len(pool))
        starts = range(max(0, min(mid, len(pool) - width) - width),
                       min(len(pool) - width, mid) + 1)
        lo = min(starts, key=lambda i: ((costs[pool[i + width - 1]] - costs[pool[i]])
                                        / max(costs[pool[i]], 1e-3), abs(i + width // 2 - mid)))
        picks.append(rng.choice(pool[lo:lo + width]))
    return picks


#: queries whose plan reads one of the engine's family caches (the
#: shared materializations PipelineQueries/OpsQueries stage per data dir)
CACHE_CONSUMERS = [
    "dd_bbit_minhash", "dd_cc_clusters", "dd_cc_dedup", "dd_cluster_keeper",
    "dd_containment", "dd_er_clusters", "dd_er_pairs", "dd_incremental_minhash",
    "dd_lsh_tuning", "dd_minhash_est_quality", "dd_minhash_lsh",
    "dd_neardup_filter", "dd_ngram_jaccard", "dd_simhash", "dd_simhash_recall",
    "dd_source_dup_matrix", "dd_substring_apply", "dd_substring_runs",
    "dd_substring_yield", "dd_threshold_sweep", "dd_winnow", "dd_winnow_pairs",
    "gr_assortativity", "gr_bfs", "gr_closeness", "gr_closeness_approx",
    "gr_common_neighbors", "gr_degree_dist", "gr_eccentricity",
    "gr_effective_diameter", "gr_effective_diameter_approx", "gr_graphlets",
    "gr_harmonic", "gr_hits", "gr_kcore", "gr_ktruss", "gr_label_prop",
    "gr_louvain_coarse", "gr_louvain_levels", "gr_louvain_members",
    "gr_louvain_move", "gr_modularity", "gr_n2v_skipgrams", "gr_node2vec_walks",
    "gr_pagerank", "gr_pagerank_weighted", "gr_ppr", "gr_ppr_weighted",
    "gr_random_walks", "gr_resource_alloc", "gr_scc", "gr_scc_condense",
    "gr_sgns_batch", "gr_stress", "gr_stress_sampled", "gr_triangles",
    "gr_walk_negatives", "gr_walk_skipgrams", "gr_weighted_dist",
    "sim_pca_residual", "sim_power_iteration", "tx_dedup_yield"]


#: the job server's pass: six short queries, two family-cache consumers
#: (dd_simhash_recall, dd_source_dup_matrix) and one streaming query that
#: runs its stream on every submit, all at sf0.01, in this order. Fixed,
#: not drawn from the seed: with a seeded membership, a seeded order or
#: sf0.1 submissions the pass time spread 15-60% from seed to seed, as a
#: 9-job pass on two workers has too few jobs to average out which jobs
#: overlap.
JOBSERVER_MIX = (
    ("rel_assoc_rules", "0.01"), ("rel_join_q17", "0.01"), ("st_mgstate", "0.01"),
    ("dd_simhash_recall", "0.01"), ("tx_mixture_plan", "0.01"),
    ("rel_kanonymity", "0.01"), ("dd_source_dup_matrix", "0.01"),
    ("ts_asof_tol", "0.01"), ("mm_phash_dedup", "0.01"))


def plan_ops(workload, seed, inventory, costs):
    """The seeded op sequence of one pass, as (op name, scale) pairs.
    ``inventory`` is the engine's query names and ``costs`` the measured
    per-query seconds used to band the samples."""
    rng = random.Random(f"{workload}:{seed}")
    names = sorted(inventory)
    iterative = [n for n in names if n.startswith(("gr_", "st_"))]
    direct = [n for n in names if not n.startswith(("gr_", "st_"))]
    if workload == "mr_books":
        return [(j, "corpus") for j in MR_JOBS]
    if workload == "query_tail":
        ops = [(n, "0.01") for n in _banded(rng, direct, costs, 12)]
    elif workload == "iterative_rounds":
        fixed = ["gr_louvain_levels", "gr_pagerank", "gr_bfs"]
        rest = [n for n in iterative if n not in fixed]
        ops = [(n, "0.1") for n in fixed + _banded(rng, rest, costs, 2)]
    elif workload == "jobserver_mix":
        return list(JOBSERVER_MIX)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rng.shuffle(ops)
    return ops


def digest(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def load_json(path):
    with open(path) as f:
        return json.load(f)
