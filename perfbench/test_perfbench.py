"""Self-tests of the benchmark: seeded generation is byte-identical, and every
output check accepts an independently computed correct output and rejects a
deliberately damaged one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root; scratch files go under .perfbench/selftest/.
"""
import copy
import filecmp
import os
import shutil
import unittest

import duckdb

import check
import gen

SCRATCH = os.path.join(os.getcwd(), ".perfbench", "selftest")
SMALL = {"reference_etl": 3000, "llm_curation": 700, "neardup_clusters": 300}


def corpus(workload, seed, tag=""):
    out = os.path.join(SCRATCH, f"{workload}_s{seed}{tag}")
    shutil.rmtree(out, ignore_errors=True)
    return out, gen.generate(workload, seed, out, SMALL[workload])


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in SMALL:
            a, _ = corpus(w, 7, "a")
            b, _ = corpus(w, 7, "b")
            for f in ("documents.parquet", "truth.json"):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f"{w}/{f} differs")

    def test_other_seed_other_bytes(self):
        a, _ = corpus("neardup_clusters", 7, "a")
        b, _ = corpus("neardup_clusters", 8, "b")
        self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                     os.path.join(b, "documents.parquet"), shallow=False))


class ReferenceEtlCheck(unittest.TestCase):
    """Correct outputs come from DuckDB's build rule on the generated parquet."""

    def setUp(self):
        self.data, self.truth = corpus("reference_etl", 3)
        self.written = os.path.join(self.data, "written")
        con = duckdb.connect()
        docs = os.path.join(self.data, "documents.parquet")
        con.execute(f"""CREATE TABLE built AS
            SELECT * FROM read_parquet('{docs}') WHERE doc_id IN (
              SELECT min(doc_id) FROM read_parquet('{docs}')
              WHERE n_chars > 50 AND length(lang) = 2 GROUP BY text)""")
        con.execute(f"COPY (SELECT doc_id, lang, source, n_chars FROM built) TO "
                    f"'{self.written}' (FORMAT parquet, PARTITION_BY (lang))")
        amend = " OR ".join(f"contains(lower(text), '{s}')" for s in gen.AMEND_SIGNALS)
        self.rows = [dict(zip(("lang", "n_docs", "n_amendments"), r)) for r in con.execute(
            f"SELECT lang, count(*), sum(CASE WHEN {amend} THEN 1 ELSE 0 END)::BIGINT "
            "FROM built GROUP BY lang ORDER BY lang").fetchall()]
        for r in self.rows:
            r.update(mean_removed_bp=250, n_themed=r["n_docs"] // 2)

    def problems(self, rows=None):
        return check.check_reference_etl(self.data, self.truth, rows or self.rows,
                                         self.written)

    def test_correct_output_passes(self):
        self.assertEqual(self.problems(), [])

    def test_dropped_written_row_fails(self):
        part = os.path.join(self.written, f"lang={self.rows[0]['lang']}")
        f = os.path.join(part, sorted(os.listdir(part))[0])
        duckdb.connect().execute(
            f"COPY (SELECT * FROM read_parquet('{f}') "
            f"WHERE doc_id <> (SELECT max(doc_id) FROM read_parquet('{f}'))) "
            f"TO '{f}.tmp' (FORMAT parquet)")
        os.replace(f + ".tmp", f)
        self.assertNotEqual(self.problems(), [])

    def test_amendment_count_off_by_one_fails(self):
        rows = copy.deepcopy(self.rows)
        rows[0]["n_amendments"] += 1
        self.assertNotEqual(self.problems(rows), [])

    def test_themed_above_docs_fails(self):
        rows = copy.deepcopy(self.rows)
        rows[1]["n_themed"] = rows[1]["n_docs"] + 1
        self.assertNotEqual(self.problems(rows), [])


class LlmCurationCheck(unittest.TestCase):
    """A correct funnel is built from DuckDB's intake figures and the planted counts."""

    def setUp(self):
        self.data, self.truth = corpus("llm_curation", 3)
        n1, t1 = duckdb.connect().execute(
            f"SELECT count(*), sum({check.WC_SQL}) FROM read_parquet(?) WHERE doc_id % 13 <> 0",
            [os.path.join(self.data, "documents.parquet")]).fetchone()
        p = self.truth["planted"]
        n2 = n1 - p["exact_dup"]
        n3 = n2 - p["near_copy"]
        n4 = n3 - p["quality_fail"]
        n5 = n4 - p["contaminated"]
        self.rows = [{"stage_id": i, "n_docs": n, "n_tokens": t, "detail": 0}
                     for i, n, t in [(1, n1, t1), (2, n2, t1 - 10), (3, n3, t1 - 20),
                                     (4, n4, t1 - 30), (5, n5, t1 - 40),
                                     (6, 16, t1 - 40), (7, 40, t1 - 40)]]
        self.rows[5]["detail"] = 1000000

    def problems(self, rows):
        return check.check_llm_curation(self.data, self.truth, rows)

    def test_correct_output_passes(self):
        self.assertEqual(self.problems(self.rows), [])

    def test_funnel_count_off_by_one_fails(self):
        for stage in (1, 2, 4):
            rows = copy.deepcopy(self.rows)
            rows[stage - 1]["n_docs"] -= 1
            self.assertNotEqual(self.problems(rows), [], f"stage {stage}")

    def test_budget_and_packing_fail(self):
        rows = copy.deepcopy(self.rows)
        rows[5]["detail"] = 999999
        self.assertNotEqual(self.problems(rows), [])
        rows = copy.deepcopy(self.rows)
        rows[6]["n_tokens"] += 1
        self.assertNotEqual(self.problems(rows), [])


class NeardupClustersCheck(unittest.TestCase):
    """A correct answer is the keep-best rule applied to the planted groups."""

    def setUp(self):
        self.data, self.truth = corpus("neardup_clusters", 3)
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(self.data, "documents.parquet")).to_pydict()
        text = dict(zip(t["doc_id"], t["text"]))
        self.rows = []
        for g in self.truth["groups"]:
            best = min(g, key=lambda i: (-gen.quality_bp(text[i]), i))
            self.rows.append({"cluster": g[0], "canonical_doc": best,
                              "n_members": len(g), "best_bp": gen.quality_bp(text[best])})

    def problems(self, rows):
        return check.check_neardup_clusters(self.data, self.truth, rows)

    def test_planted_groups_are_true_neardup_components(self):
        """Every planted member reaches J >= 0.5 to a group mate; no two groups do."""
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(self.data, "documents.parquet")).to_pydict()
        sh = {i: gen.shingles(x) for i, x in zip(t["doc_id"], t["text"])}
        for g in self.truth["groups"]:
            for i in g:
                self.assertTrue(any(gen.jaccard(sh[i], sh[j]) >= 0.5 for j in g if j != i))
        roots = [g[0] for g in self.truth["groups"]]
        for a in roots[:20]:
            for b in roots[:20]:
                if a < b:
                    self.assertLess(gen.jaccard(sh[a], sh[b]), 0.5)

    def test_correct_output_passes(self):
        self.assertEqual(self.problems(self.rows), [])

    def test_moved_member_fails(self):
        rows = copy.deepcopy(self.rows)
        rows[0]["n_members"] -= 1
        rows[1]["n_members"] += 1
        self.assertNotEqual(self.problems(rows), [])

    def test_wrong_canonical_fails(self):
        rows = copy.deepcopy(self.rows)
        g = next(g for g in self.truth["groups"] if len(g) > 2)
        r = next(r for r in rows if r["cluster"] == g[0])
        r["canonical_doc"] = next(i for i in g if i != r["canonical_doc"])
        self.assertNotEqual(self.problems(rows), [])

    def test_split_cluster_fails(self):
        rows = copy.deepcopy(self.rows)
        g = next(g for g in self.truth["groups"] if len(g) > 2)
        r = next(r for r in rows if r["cluster"] == g[0])
        r["n_members"] -= 1
        rows.append({"cluster": g[-1], "canonical_doc": g[-1], "n_members": 1,
                     "best_bp": r["best_bp"]})
        self.assertNotEqual(self.problems(rows), [])


if __name__ == "__main__":
    unittest.main()
