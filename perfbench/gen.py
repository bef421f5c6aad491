"""Seeded generator of the legislative-style corpora the benchmark feeds to graft.

Each workload gets its own `documents.parquet` (doc_id, text, lang, source,
n_chars) plus `truth.json`, the outcome every planted property must produce.
The same (workload, seed) always gives byte-identical files.

Text is drawn uniformly from a large pseudo-word vocabulary, so unrelated
documents share almost no 3-word shingles; every property a pipeline reacts to
is planted on purpose at a stated rate (see RATES) and recorded.

    python3 perfbench/gen.py --workload neardup_clusters --seed 1 --out DIR
"""
import argparse
import json
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Documents per workload: sized so one warm pass is a few seconds on 4 cores.
SIZES = {"reference_etl": 20000, "llm_curation": 3000, "neardup_clusters": 1200}

# Planted shares of the corpus, per workload.
RATES = {
    "reference_etl": {"exact_dup": 0.05, "short": 0.02, "bad_lang": 0.02,
                      "amendment": 0.15, "entity": 0.30, "numeric_line": 0.40,
                      "theme": 0.50},
    "llm_curation": {"exact_dup": 0.04, "near_copy": 0.04, "quality_fail": 0.05,
                     "contaminated": 0.02, "entity": 0.20, "numeric_line": 0.30},
    "neardup_clusters": {"grouped": 0.40, "entity": 0.20, "numeric_line": 0.30},
}

LANGS = ["en", "es", "fr", "de"]
BAD_LANGS = ["eng", "x", ""]
N_SOURCES = 16
AMEND_SIGNALS = ["merge", "window", "stream"]
THEME_WORDS = ["fast", "slow", "benchmark", "join", "aggregate", "group",
               "table", "column", "scan", "batch"]
LEGAL_WORDS = ["section", "subsection", "paragraph", "clause", "provided",
               "secretary", "commission", "department", "enacted", "pursuant",
               "thereof", "herein", "statute", "chapter", "article", "county",
               "municipal", "licensee", "appropriation", "fiscal", "revenue",
               "authority", "ordinance", "tribunal", "registry", "petition",
               "hearing", "notice", "board", "district"]
# LSH banding of the staged MinHash signatures (Dedup.lshVerifiedPairs).
LSH_BANDS, LSH_ROWS = 8, 4


def vocabulary(n=24000):
    """Fixed pseudo-word vocabulary; no word contains an amendment signal."""
    rng = np.random.default_rng(20240601)
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    words = set(LEGAL_WORDS)
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if rng.random() < 0.4:
            w += cons[rng.integers(len(cons))]
        words.add(w)
    words = sorted(w for w in words if not any(s in w for s in AMEND_SIGNALS))
    return np.array(words, dtype=object)


# ---- the program's text semantics, replicated for ground truth -------------
_NUM_LINE = re.compile(r"(?m)^\s*\d+\s*$")
_SP = re.compile(r"[ \t]+")
_NL3 = re.compile(r"\n{3,}")
_WS = " \t\n\x0b\x0c\r"


def normalize(text):
    """TextFunctions.normalizeText on ASCII text."""
    t = text.lower().replace("&amp;", "&").replace("&nbsp;", " ")
    t = _NUM_LINE.sub("", t)
    t = _SP.sub(" ", t)
    t = _NL3.sub("\n\n", t)
    return t.strip(_WS)


def shingles(text):
    """Distinct 3-word shingles of the normalized text (Dedup.shinglesOf)."""
    toks = re.split(r"\s+", normalize(text))
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    """round(|a∩b| / |a∪b|, 4), as the pair finders emit it."""
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 4)


def word_count(text):
    t = text.strip(_WS)
    return 0 if not t else len(re.split(r"\s+", t))


def counters(text):
    """(n_tokens, len_chars, n_alpha, n_punct, n_nonspace) of one document."""
    return (word_count(text), len(text),
            sum(1 for ch in text.lower() if "a" <= ch <= "z"),
            sum(text.count(p) for p in ".,!?;:"),
            len(text) - sum(text.count(w) for w in _WS))


def filter_reason(text):
    """TextAnalysis.filterReason, the fixed-order quality cascade."""
    nt, ln, na, npu, nns = counters(text)
    if nt < 20:
        return "too_short"
    if nns < nt * 3:
        return "short_words"
    if nns > nt * 12:
        return "long_words"
    if na * 10 < ln * 6:
        return "low_alpha"
    if npu * 100 > ln * 10:
        return "high_punct"
    return "keep"


def quality_bp(text):
    """TextAnalysis.qualityBp in integer basis points."""
    nt, ln, na, npu, _ = counters(text)
    if ln == 0:
        return min(nt, 100) * 50 + 2000
    qn = min(nt, 100) * ln + 60 * na + 40 * (ln - npu)
    qd = 200 * ln
    return (20000 * qn + qd) // (2 * qd)


# ---- document rendering ------------------------------------------------------
class Doc:
    """Word list plus layout (line length, numeric lines, entity tokens)."""

    def __init__(self, words, line_len, numeric, entities):
        self.words = list(words)
        self.line_len = line_len
        self.numeric = numeric      # {line index: number} rendered before that line
        self.entities = entities    # {word index: entity} rendered before that word

    def copy(self):
        return Doc(self.words, self.line_len, dict(self.numeric), dict(self.entities))

    def render(self):
        toks = []
        for i, w in enumerate(self.words):
            if i in self.entities:
                toks.append(self.entities[i])
            toks.append(w)
        lines = []
        for li, start in enumerate(range(0, len(toks), self.line_len)):
            if li in self.numeric:
                lines.append(str(self.numeric[li]))
            lines.append(" ".join(toks[start:start + self.line_len]))
        return "\n".join(lines)


class Gen:
    def __init__(self, seed, workload):
        self.rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
        self.vocab = vocabulary()
        self.rates = RATES[workload]

    def words(self, n):
        return self.vocab[self.rng.integers(0, len(self.vocab), n)].tolist()

    def doc(self, lo=30, hi=90):
        n = int(self.rng.integers(lo, hi))
        line_len = int(self.rng.integers(10, 20))
        n_lines = -(-n // line_len)
        numeric, entities = {}, {}
        if self.rng.random() < self.rates.get("numeric_line", 0):
            for li in self.rng.choice(np.arange(1, max(n_lines, 2)), size=min(2, max(n_lines - 1, 1)),
                                      replace=False):
                numeric[int(li)] = int(self.rng.integers(1, 400))
        if self.rng.random() < self.rates.get("entity", 0):
            for wi in self.rng.choice(np.arange(1, n), size=2, replace=False):
                entities[int(wi)] = "&amp;" if self.rng.random() < 0.5 else "&nbsp;"
        return Doc(self.words(n), line_len, numeric, entities)

    def near_copy(self, parent, subs):
        """Copy of `parent` with `subs` words replaced at random positions."""
        d = parent.copy()
        for i in self.rng.choice(len(d.words), size=subs, replace=False):
            d.words[int(i)] = self.words(1)[0]
        return d

    def near_copy_at(self, parent, lo, every):
        """A near copy, one word in `every` replaced, whose shingle Jaccard
        to `parent` is at least `lo`."""
        ps = shingles(parent.render())
        subs = max(1, len(parent.words) // every)
        while True:
            d = self.near_copy(parent, subs)
            j = jaccard(ps, shingles(d.render()))
            if j >= lo:
                return d, j
            subs = max(1, subs - 1)

    def quality_failure(self, kind):
        """A document that fails exactly the `kind` rule of the cascade."""
        if kind == "too_short":
            return " ".join(self.words(int(self.rng.integers(6, 18))))
        if kind == "short_words":
            # two-letter tokens from all 676 pairs: random, so these do not
            # near-duplicate each other
            az = "abcdefghijklmnopqrstuvwxyz"
            return " ".join(az[self.rng.integers(26)] + az[self.rng.integers(26)]
                            for _ in range(int(self.rng.integers(40, 90))))
        if kind == "long_words":
            return " ".join("".join(self.words(3)) for _ in range(int(self.rng.integers(30, 60))))
        if kind == "low_alpha":
            ws = self.words(int(self.rng.integers(40, 80)))
            return " ".join(w if k % 2 else str(int(self.rng.integers(100000, 999999)))
                            for k, w in enumerate(ws))
        if kind == "high_punct":
            long_words = [w for w in self.vocab if 6 <= len(w) <= 10]
            ws = self.rng.choice(long_words, size=int(self.rng.integers(40, 80)))
            return " ".join(w + ".," for w in ws)
        raise ValueError(kind)


QUALITY_KINDS = ["too_short", "short_words", "long_words", "low_alpha", "high_punct"]


def _place(rng, n, n_slots, forbid):
    """Pick `n_slots` distinct doc ids in [0, n) outside `forbid`."""
    free = np.array([i for i in range(n) if i not in forbid])
    return [int(x) for x in rng.choice(free, size=n_slots, replace=False)]


def _table(texts, langs, sources):
    ids = list(range(len(texts)))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_reference_etl(g, n):
    r = g.rates
    texts = [None] * n
    n_dup, n_short, n_bad = (int(n * r[k]) for k in ("exact_dup", "short", "bad_lang"))
    langs = [LANGS[i] for i in g.rng.integers(0, len(LANGS), n)]
    sources = [f"src{i}" for i in g.rng.integers(0, N_SOURCES, n)]
    for i in range(n):
        d = g.doc(30, 100)
        if g.rng.random() < r["amendment"]:
            d.words[int(g.rng.integers(len(d.words)))] = AMEND_SIGNALS[int(g.rng.integers(3))]
        if g.rng.random() < r["theme"]:
            d.words[int(g.rng.integers(len(d.words)))] = THEME_WORDS[int(g.rng.integers(len(THEME_WORDS)))]
        texts[i] = d.render()
    ids = g.rng.permutation(n)
    short_ids = ids[:n_short]
    bad_ids = ids[n_short:n_short + n_bad]
    dup_ids = ids[n_short + n_bad:n_short + n_bad + n_dup]
    for i in short_ids:
        texts[i] = " ".join(g.words(3))[:45]
    for i in bad_ids:
        langs[i] = BAD_LANGS[int(g.rng.integers(len(BAD_LANGS)))]
    src_pool = ids[n_short + n_bad + n_dup:]
    for i in dup_ids:
        texts[i] = texts[int(src_pool[g.rng.integers(len(src_pool))])]
    # ground truth: the build rule, then the amendment signal among survivors
    keeper = {}
    for i in range(n):
        if len(texts[i]) > 50 and len(langs[i]) == 2 and texts[i] not in keeper:
            keeper[texts[i]] = i
    survivors = sorted(keeper.values())
    truth = {
        "n_docs": n,
        "planted": {"exact_dup": n_dup, "short": n_short, "bad_lang": n_bad},
        "n_built": len(survivors),
        "sum_built_doc_id": int(sum(survivors)),
        "n_amendments": sum(1 for i in survivors
                            if any(s in texts[i].lower() for s in AMEND_SIGNALS)),
    }
    return _table(texts, langs, sources), truth


def gen_llm_curation(g, n):
    r = g.rates
    docs = [g.doc() for _ in range(n)]
    langs = [LANGS[i] for i in g.rng.integers(0, len(LANGS), n)]
    sources = [f"src{i}" for i in g.rng.integers(0, N_SOURCES, n)]
    # every planted role sits on ids outside the quarantined (% 13) and
    # benchmark (% 100) slices, and no id carries two roles
    taken = {i for i in range(n) if i % 13 == 0 or i % 100 == 0}
    n_dup, n_near, n_q, n_con = (int(n * r[k]) for k in
                                 ("exact_dup", "near_copy", "quality_fail", "contaminated"))
    dup_pairs = _place(g.rng, n, 2 * n_dup, taken)
    taken |= set(dup_pairs)
    near_pairs = _place(g.rng, n, 2 * n_near, taken)
    taken |= set(near_pairs)
    q_ids = _place(g.rng, n, n_q, taken)
    taken |= set(q_ids)
    con_ids = _place(g.rng, n, n_con, taken)
    texts = [d.render() for d in docs]
    for k in range(n_dup):
        a, b = dup_pairs[2 * k], dup_pairs[2 * k + 1]
        texts[b] = texts[a]
    near_j = []
    for k in range(n_near):
        a, b = near_pairs[2 * k], near_pairs[2 * k + 1]
        d, j = g.near_copy_at(docs[a], 0.75, 30)
        texts[b] = d.render()
        near_j.append(j)
    for k, i in enumerate(q_ids):
        texts[i] = g.quality_failure(QUALITY_KINDS[k % len(QUALITY_KINDS)])
        assert filter_reason(texts[i]) == QUALITY_KINDS[k % len(QUALITY_KINDS)], texts[i]
    bench_ids = [i for i in range(0, n, 100) if i % 13 != 0]
    for i in con_ids:
        src = normalize(texts[bench_ids[int(g.rng.integers(len(bench_ids)))]]).split()
        at = int(g.rng.integers(0, len(src) - 8))
        d = docs[i]
        pos = int(g.rng.integers(1, len(d.words) - 1))
        d.words[pos:pos] = src[at:at + 8]
        texts[i] = d.render()
    for i in range(n):
        if i not in q_ids:
            assert filter_reason(texts[i]) == "keep", (i, texts[i])
    # recall floor of the 8x4 banding at the planted similarities: the
    # expected detections minus four standard deviations
    p = [1 - (1 - j ** LSH_ROWS) ** LSH_BANDS for j in near_j]
    floor = int(math.floor(sum(p) - 4 * math.sqrt(sum(x * (1 - x) for x in p))))
    truth = {
        "n_docs": n,
        "planted": {"exact_dup": n_dup, "near_copy": n_near, "quality_fail": n_q,
                    "contaminated": n_con},
        "near_copy_min_jaccard": min(near_j) if near_j else None,
        "near_copy_recall_floor": max(floor, 0),
    }
    return _table(texts, langs, sources), truth


# Group sizes of the neardup corpus, repeated in this order: the same shapes
# for every seed, so the connected-components loop runs the same rounds.
GROUP_PATTERN = [2, 3, 2, 4, 6, 3, 2, 4, 6]


def gen_neardup_clusters(g, n):
    n_grouped = int(n * g.rates["grouped"])
    sizes = []
    while sum(sizes) + GROUP_PATTERN[len(sizes) % len(GROUP_PATTERN)] <= n_grouped:
        sizes.append(GROUP_PATTERN[len(sizes) % len(GROUP_PATTERN)])
    n_grouped = sum(sizes)
    docs = [g.doc() for _ in range(n)]
    members = [int(x) for x in g.rng.permutation(n)[:n_grouped]]
    groups, min_parent_j, at = [], 1.0, 0
    for size in sizes:
        ids = members[at:at + size]
        at += size
        fam = [docs[ids[0]]]
        for k in range(1, size):
            # copy-of-copy chains: member k is a near copy of member k-1
            d, j = g.near_copy_at(fam[-1], 0.6, 15)
            fam.append(d)
            min_parent_j = min(min_parent_j, j)
        for i, d in zip(ids, fam):
            docs[i] = d
        groups.append(sorted(ids))
    texts = [d.render() for d in docs]
    langs = [LANGS[i] for i in g.rng.integers(0, len(LANGS), n)]
    sources = [f"src{i}" for i in g.rng.integers(0, N_SOURCES, n)]
    truth = {
        "n_docs": n,
        "planted": {"grouped_docs": n_grouped, "groups": len(groups)},
        "group_sizes": {str(s): sizes.count(s) for s in sorted(set(sizes))},
        "min_parent_jaccard": min_parent_j,
        "groups": sorted(groups),
    }
    return _table(texts, langs, sources), truth


GENERATORS = {"reference_etl": gen_reference_etl, "llm_curation": gen_llm_curation,
              "neardup_clusters": gen_neardup_clusters}


def generate(workload, seed, out, n=None):
    """Write documents.parquet and truth.json for (workload, seed) into `out`."""
    n = n or SIZES[workload]
    table, truth = GENERATORS[workload](Gen(seed, workload), n)
    truth.update({"workload": workload, "seed": seed, "rates": RATES[workload]})
    os.makedirs(out, exist_ok=True)
    # many row groups, so a 4-core scan gets one split per core
    pq.write_table(table, os.path.join(out, "documents.parquet"),
                   row_group_size=max(1, n // 16), compression="snappy")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=None)
    a = ap.parse_args()
    t = generate(a.workload, a.seed, a.out, a.docs)
    print(json.dumps({k: v for k, v in t.items() if k != "groups"}))


if __name__ == "__main__":
    main()
