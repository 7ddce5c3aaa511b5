"""Correctness checks of the program's outputs, computed apart from the
program: against the corpus's gold labels, against DuckDB running each
query's SQL oracle on the same parquet, or against properties a query's
method guarantees. Every check returns a list of failure messages (empty
when the output is correct) and is exercised on broken outputs by
test_checks.py.
"""
import numpy as np
import pandas as pd

MATCH_THRESHOLD = 50.0  # GraftConfig's signature-score threshold (strict >)
RECALL_FLOOR = 0.99


def _pairs(sizes):
    s = np.asarray(sizes, dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def content_hash(df):
    """Order-independent 64-bit hash of a frame's rows, as 16 hex digits."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return f"{int(h.sum(dtype=np.uint64)):016x}"


def is_mega(urls):
    return urls.str.startswith("https://mega-")


def check_batch(out, corpus):
    """`out`: (url, doc_id, cluster_id) from the pipeline; `corpus`: (url,
    cluster_gold) — labels the pipeline never sees. Returns (facts, failures).
    """
    fails = []
    n_dup = int(out.url.duplicated().sum())
    missing = len(set(corpus.url) - set(out.url))
    extra = len(set(out.url) - set(corpus.url))
    if n_dup or missing or extra:
        fails.append(f"urls: {n_dup} repeated, {missing} missing, {extra} not in the corpus")
    mins = out.groupby("cluster_id").doc_id.min()
    bad_label = int((mins.index.to_numpy() != mins.to_numpy()).sum())
    if bad_label:
        fails.append(f"{bad_label} clusters whose cluster_id is not their min doc_id")

    j = out.drop_duplicates("url").merge(corpus[["url", "cluster_gold"]], on="url")
    gold_sizes = j.groupby("cluster_gold").size()
    found = j.groupby(["cluster_gold", "cluster_id"]).size()
    mega_gold = set(j.cluster_gold[is_mega(j.url)])
    nonmega_sizes = gold_sizes[~gold_sizes.index.isin(mega_gold)]
    nonmega_found = found[~found.index.get_level_values(0).isin(mega_gold)]
    gold_pairs, nonmega_pairs = _pairs(gold_sizes), _pairs(nonmega_sizes)
    recall = _pairs(found) / max(1, gold_pairs)
    recall_nonmega = _pairs(nonmega_found) / max(1, nonmega_pairs)
    if recall < RECALL_FLOOR:
        fails.append(f"pair recall {recall:.5f} < {RECALL_FLOOR} over {gold_pairs} gold pairs")
    if recall_nonmega < RECALL_FLOOR:
        fails.append(f"non-mega pair recall {recall_nonmega:.5f} < {RECALL_FLOOR} "
                     f"over {nonmega_pairs} gold pairs")

    per = j.groupby("cluster_id").agg(n_gold=("cluster_gold", "nunique"), size=("url", "size"))
    cross = int(((per.n_gold > 1) & (per.size > 1)).sum())
    clusters = int(out.cluster_id.nunique())
    bound = max(1, clusters // 100)  # PipelineSpec's precision bound
    if cross > bound:
        fails.append(f"{cross} clusters span two gold clusters (bound {bound})")
    facts = {"clusters": clusters, "gold_clusters": int(corpus.cluster_gold.nunique()),
             "recall": round(recall, 6), "recall_nonmega": round(recall_nonmega, 6),
             "cross_gold_clusters": cross}
    return facts, fails


def _components(edges):
    """Connected-component label of every node of an edge list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {x: find(x) for x in parent}


def check_incremental(batches, pairs, ids, corpus, base_urls):
    """`batches[k]`: urls of batch k; `pairs[k]`: (src, dst) doc_id pairs the
    batch produced; `ids`: (url, doc_id); `corpus`: (url, cluster_gold,
    is_dup_member). A batch's dup member counts as linked when the batch's
    pairs connect it to a delivered member of its gold cluster: the pairs
    are edges whose connected components are the clusters, and an exact
    group is a star around its rep, so a member whose rep is another new doc
    reaches the delivered copies through that rep. Returns (facts, failures).
    """
    fails = []
    url_of = dict(zip(ids.doc_id, ids.url))
    gold = dict(zip(corpus.url, corpus.cluster_gold))
    dup_member = dict(zip(corpus.url, corpus.is_dup_member))
    delivered = set(base_urls)
    delivered_gold = {}
    for u in delivered:
        delivered_gold.setdefault(gold[u], set()).add(u)
    expected = hit = n_pairs = 0
    for k, (urls, p) in enumerate(zip(batches, pairs)):
        batch = set(urls)
        src = p.src.map(url_of)
        dst = p.dst.map(url_of)
        unknown = int(src.isna().sum() + dst.isna().sum())
        if unknown:
            fails.append(f"batch {k}: {unknown} pair ends are not corpus docs")
            continue
        outside = int((~(src.isin(batch) | dst.isin(batch))).sum())
        if outside:
            fails.append(f"batch {k}: {outside} pairs touch no doc of the batch")
        cross = int((src.map(gold) != dst.map(gold)).sum())
        if cross:
            fails.append(f"batch {k}: {cross} pairs link two gold clusters")
        comp = _components(zip(src, dst))
        for u in batch:
            if not dup_member[u] or gold[u] not in delivered_gold:
                continue
            expected += 1
            hit += u in comp and any(comp.get(d) == comp[u] for d in delivered_gold[gold[u]])
        n_pairs += len(p)
        for u in batch:
            delivered_gold.setdefault(gold[u], set()).add(u)
    recall = hit / expected if expected else 1.0
    if recall < RECALL_FLOOR:
        fails.append(f"{hit} of {expected} batch dup members linked to a delivered "
                     f"member of their gold cluster ({recall:.4f} < {RECALL_FLOOR})")
    return {"pairs": n_pairs, "linked_members": expected, "recall": round(recall, 6)}, fails


def _canon(df, cols):
    """Rows as comparable columns: floats as float64, everything else as str."""
    out = {}
    for c in cols:
        v = df[c]
        if v.dtype.kind in "fc":
            out[c] = v.astype(np.float64)
        elif v.dtype.kind in "iub":
            out[c] = v.astype(np.int64).astype(str) if v.dtype.kind != "b" else v.astype(str)
        else:
            out[c] = v.map(lambda x: "None" if x is None else str(x))
    return pd.DataFrame(out)


def compare_multisets(got, want, rtol=1e-9, atol=1e-9):
    """Failures of `got` against `want` compared as multisets of rows, floats
    within a tolerance."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != oracle {len(want)}"]
    cols = sorted(want.columns)
    g, w = _canon(got, cols), _canon(want, cols)
    floats = [c for c in cols if g[c].dtype.kind == "f" or w[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats] + floats
    for c in floats:
        g[c], w[c] = g[c].astype(np.float64), w[c].astype(np.float64)
    g = g.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = w.sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if c in floats:
            ok = np.isclose(g[c], w[c], rtol=rtol, atol=atol, equal_nan=True)
        else:
            ok = (g[c] == w[c]).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return [f"column {c} differs at row {i}: {g[c][i]!r} != oracle {w[c][i]!r}"]
    return []


def _one_row_per(df, col, ids, what):
    fails = []
    if df[col].duplicated().any():
        fails.append(f"a {what} appears more than once")
    if set(df[col]) != set(ids):
        fails.append(f"{what}s differ from the input's ({len(set(df[col]) ^ set(ids))} off)")
    return fails


def check_minhash_pairs(df, docs):
    fails = []
    if (df.doc_id_a >= df.doc_id_b).any():
        fails.append("pairs not ordered doc_id_a < doc_id_b")
    if df.duplicated(["doc_id_a", "doc_id_b"]).any():
        fails.append("repeated pairs")
    if not ((df.score > MATCH_THRESHOLD) & (df.score <= 100.0)).all():
        fails.append(f"scores outside ({MATCH_THRESHOLD}, 100]")
    if not (df.doc_id_a.isin(docs.doc_id) & df.doc_id_b.isin(docs.doc_id)).all():
        fails.append("pair ids not in documents")
    return fails


def check_minhash_clusters(df, docs, pairs):
    fails = _one_row_per(df, "doc_id", docs.doc_id, "doc_id")
    mins = df.groupby("cluster_doc_id").doc_id.min()
    if (mins.index.to_numpy() != mins.to_numpy()).any():
        fails.append("cluster labels are not the min member doc_id")
    label = dict(zip(df.doc_id, df.cluster_doc_id))
    split = sum(label.get(a) != label.get(b) for a, b in zip(pairs.doc_id_a, pairs.doc_id_b))
    if split:
        fails.append(f"{split} q_minhash_pairs pairs fall in different clusters")
    return fails


def check_simhash(df, docs):
    fails = _one_row_per(df, "doc_id", docs.doc_id, "doc_id")
    j = docs[["doc_id", "text"]].merge(df, on="doc_id")
    if (j.groupby("text").simhash.nunique() > 1).any():
        fails.append("identical texts got different simhashes")
    return fails


def check_oracles(results, oracles, run_sql):
    """Failures of the queries whose oracle is SQL: each must have an output,
    and it must equal `run_sql(sql)` (DuckDB) as a multiset."""
    fails = []
    for q, sql in sorted(oracles.items()):
        if q not in results:
            fails.append(f"{q}: no output")
        else:
            fails += [f"{q} vs DuckDB: {m}" for m in compare_multisets(results[q], run_sql(sql))]
    return fails


def check_properties(results, docs, names):
    """Failures of the fixture-only queries among `names`, by name."""
    r = results
    checks = {
        "q_minhash_pairs": lambda: check_minhash_pairs(r["q_minhash_pairs"], docs),
        "q_minhash_clusters": lambda: check_minhash_clusters(
            r["q_minhash_clusters"], docs,
            r.get("q_minhash_pairs", pd.DataFrame(columns=["doc_id_a", "doc_id_b"]))),
        "q_simhash": lambda: check_simhash(r["q_simhash"], docs),
    }
    return {name: f() if name in r else ["no output"]
            for name, f in checks.items() if name in names}
