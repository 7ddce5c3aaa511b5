"""Tests of the benchmark's checkers: each accepts a correct output and
rejects deliberately broken ones.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import numpy as np
import pandas as pd

import checks


def gold_corpus():
    """Ten small gold clusters of 2-5 docs, 20 singletons, and one 200-doc
    byte-identical mega cluster."""
    rows = []
    for c in range(10):
        rows += [(f"https://cluster-{c}.example.org/doc-{m}", c) for m in range(2 + c % 4)]
    rows += [(f"https://singleton-{s}.example.net/", 100 + s) for s in range(20)]
    rows += [(f"https://mega-0.example.com/copy-{i}", 999) for i in range(200)]
    return pd.DataFrame(rows, columns=["url", "cluster_gold"])


def perfect_output(corpus):
    out = corpus.assign(doc_id=np.arange(len(corpus), dtype=np.int64) * 7 + 3)
    out["cluster_id"] = out.groupby("cluster_gold").doc_id.transform("min")
    return out[["url", "doc_id", "cluster_id"]]


class BatchCheck(unittest.TestCase):
    def setUp(self):
        self.corpus = gold_corpus()
        self.out = perfect_output(self.corpus)

    def fails(self, out):
        return checks.check_batch(out, self.corpus)[1]

    def test_accepts_gold_clustering(self):
        facts, fails = checks.check_batch(self.out, self.corpus)
        self.assertEqual(fails, [])
        self.assertEqual(facts["recall"], 1.0)

    def test_rejects_repeated_and_missing_urls(self):
        self.assertTrue(self.fails(pd.concat([self.out, self.out.iloc[:1]])))
        self.assertTrue(self.fails(self.out.iloc[1:]))

    def test_rejects_label_that_is_not_min_doc_id(self):
        out = self.out.copy()
        first = out.cluster_id == out.cluster_id.iloc[0]
        out.loc[first, "cluster_id"] = out.doc_id[first].max()
        self.assertTrue(any("min doc_id" in f for f in self.fails(out)))

    def test_rejects_split_clusters_even_when_mega_pairs_hide_it(self):
        out = self.out.copy()
        small = out.url.str.startswith("https://cluster-")
        out.loc[small, "cluster_id"] = out.doc_id[small]  # every small cluster split
        fails = self.fails(out)
        self.assertTrue(any("non-mega" in f for f in fails))
        self.assertFalse(any(f.startswith("pair recall") for f in fails))  # 19,900 mega pairs hide it

    def test_rejects_clusters_spanning_gold_clusters(self):
        out = self.out.merge(self.corpus, on="url")
        small = out.cluster_gold < 10
        out.loc[small, "cluster_id"] = out[small].groupby(out.cluster_gold // 2).doc_id.transform("min")
        out = out[["url", "doc_id", "cluster_id"]]  # five clusters each span two gold clusters
        self.assertTrue(any("span two gold" in f for f in self.fails(out)))


class IncrementalCheck(unittest.TestCase):
    def setUp(self):
        self.corpus = gold_corpus().assign(is_dup_member=lambda d: d.cluster_gold < 100)
        self.corpus.loc[self.corpus.cluster_gold == 999, "is_dup_member"] = True
        self.ids = self.corpus[["url"]].assign(doc_id=np.arange(len(self.corpus)) + 1000)
        self.id_of = dict(zip(self.ids.url, self.ids.doc_id))
        # batch 0: the last member of each small cluster; the rest is base
        last = self.corpus[self.corpus.cluster_gold < 100].groupby("cluster_gold").url.last()
        self.batches = [pd.Series(sorted(last))]
        self.base = self.corpus.url[~self.corpus.url.isin(last)]
        first = self.corpus[self.corpus.cluster_gold < 100].groupby("cluster_gold").url.first()
        self.pairs = [pd.DataFrame({"src": [self.id_of[first[g]] for g in last.index],
                                    "dst": [self.id_of[last[g]] for g in last.index]})]

    def fails(self, pairs):
        return checks.check_incremental(self.batches, pairs, self.ids, self.corpus, self.base)[1]

    def test_accepts_pairs_to_delivered_members(self):
        self.assertEqual(self.fails(self.pairs), [])

    def test_rejects_pair_outside_the_batch(self):
        base_ids = [self.id_of[u] for u in self.base[:2]]
        extra = pd.DataFrame({"src": [base_ids[0]], "dst": [base_ids[1]]})
        self.assertTrue(any("touch no doc" in f for f in
                            self.fails([pd.concat([self.pairs[0], extra])])))

    def test_rejects_pair_across_gold_clusters(self):
        p = self.pairs[0].copy()
        p.loc[0, "src"] = p.src.iloc[1]
        self.assertTrue(any("two gold clusters" in f for f in self.fails([p])))

    def test_rejects_missed_members(self):
        self.assertTrue(any("linked to a delivered" in f
                            for f in self.fails([self.pairs[0].iloc[:5]])))

    def test_follows_links_through_another_batch_doc(self):
        # cluster 3 has 5 docs; put its last two in the batch
        c3 = list(self.corpus.url[self.corpus.cluster_gold == 3])
        self.batches = [pd.Series(sorted(set(self.batches[0]) | {c3[-2]}))]
        self.base = self.base[self.base != c3[-2]]
        star = pd.DataFrame({"src": [self.id_of[c3[-2]]], "dst": [self.id_of[c3[-1]]]})
        self.assertEqual(self.fails([pd.concat([self.pairs[0], star])]), [])
        # without the batch doc's link to a delivered member both miss
        cut = self.pairs[0][self.pairs[0].dst != self.id_of[c3[-1]]]
        self.assertTrue(any("9 of 11" in f for f in self.fails([pd.concat([cut, star])])))

    def test_rejects_unknown_ids(self):
        p = self.pairs[0].copy()
        p.loc[0, "dst"] = 1
        self.assertTrue(any("not corpus docs" in f for f in self.fails([p])))


class OracleCompare(unittest.TestCase):
    want = pd.DataFrame({"k": [1, 2, 2, 3], "s": ["a", "b", "b", None], "x": [0.1, 0.2, 0.2, 1e9]})

    def test_accepts_reordered_rows_and_float_noise(self):
        got = self.want.iloc[::-1].assign(x=lambda d: d.x * (1 + 1e-12), k=lambda d: d.k.astype("int32"))
        self.assertEqual(checks.compare_multisets(got, self.want), [])

    def test_rejects_changed_value(self):
        got = self.want.assign(x=[0.1, 0.2001, 0.2, 1e9])
        self.assertTrue(checks.compare_multisets(got, self.want))

    def test_rejects_multiset_difference(self):
        got = self.want.assign(k=[1, 2, 3, 3])
        self.assertTrue(checks.compare_multisets(got, self.want))

    def test_rejects_missing_row_and_renamed_column(self):
        self.assertTrue(checks.compare_multisets(self.want.iloc[:3], self.want))
        self.assertTrue(checks.compare_multisets(self.want.rename(columns={"x": "y"}), self.want))

    def test_oracle_query_without_output_fails(self):
        oracles = {"q_a": "SELECT 1", "q_b": "SELECT 2"}
        run_sql = lambda sql: self.want  # noqa: E731
        self.assertEqual(checks.check_oracles({"q_a": self.want, "q_b": self.want}, oracles,
                                              run_sql), [])
        self.assertEqual(checks.check_oracles({"q_a": self.want}, oracles, run_sql),
                         ["q_b: no output"])


class PropertyChecks(unittest.TestCase):
    docs = pd.DataFrame({"doc_id": [0, 1, 2, 3],
                         "text": ["a b c", "a b c", "x y z w", "p q"]})

    def good(self):
        return {
            "q_minhash_pairs": pd.DataFrame({"doc_id_a": [0], "doc_id_b": [1], "score": [100.0]}),
            "q_minhash_clusters": pd.DataFrame({"doc_id": [0, 1, 2, 3],
                                                "cluster_doc_id": [0, 0, 2, 3]}),
            "q_simhash": pd.DataFrame({"doc_id": [0, 1, 2, 3], "simhash": [5, 5, 9, -2]}),
        }

    def fails(self, r):
        return {k: v for k, v in checks.check_properties(r, self.docs, list(self.good())).items() if v}

    def broken(self, name, df):
        r = self.good()
        r[name] = df
        return self.fails(r).get(name)

    def test_accepts_correct_outputs(self):
        self.assertEqual(self.fails(self.good()), {})

    def test_rejects_broken_minhash_pairs(self):
        g = self.good()["q_minhash_pairs"]
        self.assertTrue(self.broken("q_minhash_pairs", g.assign(doc_id_a=1, doc_id_b=0)))
        self.assertTrue(self.broken("q_minhash_pairs", g.assign(score=50.0)))
        self.assertTrue(self.broken("q_minhash_pairs", pd.concat([g, g])))

    def test_rejects_broken_minhash_clusters(self):
        g = self.good()["q_minhash_clusters"]
        self.assertTrue(self.broken("q_minhash_clusters", g.assign(cluster_doc_id=[1, 1, 2, 3])))
        self.assertTrue(self.broken("q_minhash_clusters", g.assign(cluster_doc_id=[0, 1, 2, 3])))
        self.assertTrue(self.broken("q_minhash_clusters", g.iloc[:3]))

    def test_rejects_broken_simhash(self):
        self.assertTrue(self.broken("q_simhash", self.good()["q_simhash"].assign(simhash=[5, 6, 9, -2])))


class ContentHash(unittest.TestCase):
    def test_ignores_row_order_and_sees_content(self):
        df = pd.DataFrame({"url": ["u1", "u2", "u3"], "text": ["a", "b", "c"]})
        self.assertEqual(checks.content_hash(df), checks.content_hash(df.iloc[::-1]))
        self.assertNotEqual(checks.content_hash(df), checks.content_hash(df.assign(text=["a", "b", "d"])))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_run_py(self):
        import json
        import os
        import run
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
