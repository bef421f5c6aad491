package graft

import org.apache.spark.sql.SparkSession

/** The explicit registry of every managed staged layout in the library —
  * bucketed tables (Staging.ensureTable), warehouse directory copies
  * (ensureDir), and memoized /tmp fixtures (ensureFixture).
  *
  * Bench's untimed pre-stage derives the layouts DIRECTLY from this list
  * instead of first-executing all ~300 queries: the r15 full-suite sweep
  * spent 584 s to reach ~59 s of genuine staging (BASELINE.md staging-cost
  * table). The property the sweep guaranteed — staging cost can never land
  * inside a timed median (the r12–r14 ≥2x artifact-row class) — is kept
  * two ways: (1) this registry is the single place a new layout must be
  * added, and (2) Bench self-audits it by diffing Staging.stagingCosts
  * keys before/after the timed loop — any layout staged DURING timed runs
  * is named in the artifact as a `prestage_misses` entry, so a registry
  * gap is visible, not silent. The registry is the only pre-stage path:
  * there is no full first-execution sweep to fall back to.
  *
  * Entries are family-grain thunks (each family stages its own layouts via
  * a private[graft] prestage hook); per-layout seconds still land in
  * Staging.stagingCosts under their individual tags.
  */
object Layouts {

  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // 7 tables: shingles, signatures, emb cells, corpus band index,
    // corpus shingle sets, stream band index, stride-1 windows
    "dedup" -> ((s, d) => operators.Dedup.prestageLayouts(s, d)),
    // 4 tables: oriented edges, multi-order edges, LPA labels, bipartite
    "graph" -> ((s, d) => operators.Graph.prestageLayouts(s, d)),
    // 6 tables: IVF cdf/invfile + IVFPQ cdf/codebook/member/encoded
    "similarity" -> ((s, d) => operators.Similarity.prestageLayouts(s, d)),
    // events_aggsnap (metadata-sized incremental-agg snapshot)
    "sessionize" -> ((s, d) => { operators.Sessionize.stagedAggSnapshot(s, d); () }),
    // dir copies: ORC + lang-partitioned documents
    "corpus_orc" -> ((s, d) => { operators.Corpus.stagedOrcDir(s, d); () }),
    "corpus_bylang" -> ((s, d) => { operators.Corpus.stagedByLangDir(s, d); () }),
    // dir copies: compacted layout, Z-ordered lineitem
    "compacted" -> ((s, d) => { sources.Compaction.compactedDir(s, d); () }),
    "lineitem_z" -> ((s, d) => { sources.ZOrderLayout.ensureStaged(s, d); () }),
    // /tmp fixtures: corrupt JSONL intake (events + documents)
    "fixture_jsonl_q" -> ((s, d) => { sources.Quarantine.stageCorruptJsonl(s, d); () }),
    "fixture_docs_q" -> ((s, d) => { operators.LlmPretrain.stageCorruptDocsJsonl(s, d); () }),
    // streaming replay phases (the dedup replay phases stage inside
    // "dedup" above): normalized events, the outer-join sentinel, the
    // late-drop halves, the CDC feed
    "fixture_events_norm" -> ((s, d) => { streaming.EventStream.eventsPhase(s, d); () }),
    "fixture_outer_sentinel" -> ((s, d) => { streaming.EventStream.outerSentinelPhase(s, d); () }),
    "fixture_late_drop" -> ((s, d) => { streaming.EventStream.latePhases(s, d); () }),
    "fixture_cdc_feed" -> ((s, d) => { streaming.EventStream.cdcPhases(s, d); () })
  )
}
