"""Output checks: each workload's outputs against ground truth the generator
recorded, against DuckDB's own computation on the generated parquet, or
against a property the method must have. Never against saved outputs.

Each check returns a list of problems; an empty list means correct.
"""
import os

import duckdb
import pyarrow.parquet as pq

import gen

WC_SQL = ("CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0 "
          "ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), "
          "'\\s+')) END")


def _docs(data):
    return os.path.join(data, "documents.parquet")


def check_reference_etl(data, truth, rows, written):
    """`rows`: corpus_pipeline_e2e output; `written`: the partitioned corpus."""
    problems = []
    con = duckdb.connect()
    exp_n, exp_sum = con.execute(
        "SELECT count(*), sum(doc_id) FROM (SELECT min(doc_id) AS doc_id "
        "FROM read_parquet(?) WHERE n_chars > 50 AND length(lang) = 2 GROUP BY text)",
        [_docs(data)]).fetchone()
    files = os.path.join(written, "**", "*.parquet")
    got_n, got_sum = con.execute(
        "SELECT count(*), sum(doc_id) FROM read_parquet(?, hive_partitioning = true)",
        [files]).fetchone()
    if (got_n, got_sum) != (exp_n, exp_sum):
        problems.append(f"written corpus has {got_n} rows / sum(doc_id) {got_sum}, "
                        f"build rule gives {exp_n} / {exp_sum}")
    per_lang = dict(con.execute(
        "SELECT lang, count(*) FROM read_parquet(?, hive_partitioning = true) GROUP BY lang",
        [files]).fetchall())
    if sum(r["n_docs"] for r in rows) != exp_n:
        problems.append(f"per-lang n_docs sum to {sum(r['n_docs'] for r in rows)}, "
                        f"build rule gives {exp_n}")
    if {r["lang"]: r["n_docs"] for r in rows} != per_lang:
        problems.append("per-lang n_docs differ from the written partitions")
    n_amend = sum(r["n_amendments"] for r in rows)
    if n_amend != truth["n_amendments"]:
        problems.append(f"n_amendments {n_amend}, planted {truth['n_amendments']}")
    for r in rows:
        if not 0 < r["mean_removed_bp"] <= 10000:
            problems.append(f"lang {r['lang']}: mean_removed_bp {r['mean_removed_bp']}")
        if not 0 <= r["n_themed"] <= r["n_docs"]:
            problems.append(f"lang {r['lang']}: n_themed {r['n_themed']} > n_docs")
    return problems


def check_llm_curation(data, truth, rows):
    """`rows`: the llm_pretrain_e2e funnel."""
    problems = []
    st = {r["stage_id"]: r for r in rows}
    if sorted(st) != list(range(1, 8)):
        return [f"funnel stages {sorted(st)}"]
    n = [st[i]["n_docs"] for i in range(1, 6)]
    if any(b > a for a, b in zip(n, n[1:])):
        problems.append(f"funnel n_docs increases: {n}")
    con = duckdb.connect()
    exp_n1, exp_t1 = con.execute(
        f"SELECT count(*), sum({WC_SQL}) FROM read_parquet(?) WHERE doc_id % 13 <> 0",
        [_docs(data)]).fetchone()
    if (st[1]["n_docs"], st[1]["n_tokens"]) != (exp_n1, exp_t1):
        problems.append(f"intake {st[1]['n_docs']} docs / {st[1]['n_tokens']} tokens, "
                        f"DuckDB gives {exp_n1} / {exp_t1}")
    planted = truth["planted"]
    if n[0] - n[1] != planted["exact_dup"]:
        problems.append(f"exact_dedup dropped {n[0] - n[1]}, planted {planted['exact_dup']}")
    floor = truth["near_copy_recall_floor"]
    if not floor <= n[1] - n[2] <= planted["near_copy"]:
        problems.append(f"neardup_lsh dropped {n[1] - n[2]}, expected "
                        f"[{floor}, {planted['near_copy']}]")
    if n[2] - n[3] != planted["quality_fail"]:
        problems.append(f"quality_filter dropped {n[2] - n[3]}, "
                        f"planted {planted['quality_fail']}")
    if st[6]["detail"] != 1000000:
        problems.append(f"token_budget allocates {st[6]['detail']}, not 1000000")
    if st[7]["n_tokens"] != st[5]["n_tokens"]:
        problems.append(f"packed tokens {st[7]['n_tokens']} != "
                        f"decontaminated tokens {st[5]['n_tokens']}")
    return problems


def check_neardup_clusters(data, truth, rows):
    """`rows`: dedup_cluster_canonical output."""
    problems = []
    t = pq.read_table(_docs(data), columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    groups = {g[0]: g for g in truth["groups"]}
    got = {r["cluster"]: r for r in rows}
    if len(got) != len(rows):
        problems.append("a cluster id appears twice")
    if set(got) != set(groups):
        problems.append(f"{len(set(got) ^ set(groups))} cluster ids differ from the "
                        "planted groups' minimum doc_ids")
    for cid in sorted(set(got) & set(groups)):
        r, g = got[cid], groups[cid]
        if r["n_members"] != len(g):
            problems.append(f"cluster {cid}: n_members {r['n_members']}, planted {len(g)}")
        if r["canonical_doc"] not in g:
            problems.append(f"cluster {cid}: canonical_doc {r['canonical_doc']} not a member")
            continue
        best = min(g, key=lambda i: (-gen.quality_bp(text[i]), i))
        if (r["canonical_doc"], r["best_bp"]) != (best, gen.quality_bp(text[best])):
            problems.append(f"cluster {cid}: canonical {r['canonical_doc']} "
                            f"(bp {r['best_bp']}), keep-best rule gives {best}")
    return problems


def check(workload, data, truth, result, out):
    if workload == "reference_etl":
        return check_reference_etl(data, truth, result["corpus_pipeline_e2e"],
                                   os.path.join(out, "corpus_by_lang"))
    if workload == "llm_curation":
        return check_llm_curation(data, truth, result["llm_pretrain_e2e"])
    return check_neardup_clusters(data, truth, result["dedup_cluster_canonical"])
