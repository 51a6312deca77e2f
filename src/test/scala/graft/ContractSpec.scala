package graft

/** Driver-contract hygiene: every query is either DuckDB-oracle-backed
  * or on the EXPLICIT rows-only list with a documented reason — a new
  * query can't silently ship unchecked, and an oracle can't orphan.
  */
class ContractSpec extends SparkSpec {

  /** Queries that are rows-only BY DESIGN, with the reason pinned here
    * (each also carries a ScalaTest property/recall gate — see SURVEY
    * §2.9). Adding a query without an oracle means adding it here, in
    * review-visible form.
    */
  private val rowsOnlyByDesign = Map(
    "q_dp_counts" -> "hash-seeded Laplace noise (ln) is not a cross-engine-hashable surface; determinism/scale/unbiasedness gated in ForensicsSpec",
    "q_ann_lsh" -> "approximate by design; recall-gated in AnnSpec",
    "q_ann_ivf" -> "approximate by design; recall-gated in AnnSpec",
    "q_ann_pq" -> "PQ codebooks are data-dependent k-means; recall + 8-byte storage bound gated in AnnSpec",
    "q_ann_ivfpq" -> "coarse cells + residual PQ codebooks are data-dependent; recall/monotonicity gated in AnnSpec",
    "q_quality_learned" -> "gradient-descent weights are not SQL-expressible; determinism + weak-label agreement + content-sensitivity gated in TextOpsSpec",
    "q_simhash_neardup" -> "sketch-approximate; property-gated in LlmDedupSpec",
    "q_ngram_jaccard_capped" -> "under-counts BY CONTRACT; q_hot_postings audits the drops",
    "q_inductive_tree" -> "tree recursion not SQL-expressible; InductiveSpec gates",
    "q_token_replay" -> "mined net + τ-path search are not SQL-expressible; textbook token counts / accepts-agreement / never-stall laws gated in ReplaySpec",
    "q_alignments" -> "synchronous-product Dijkstra is not SQL-expressible; textbook costs / cost-0⟺accepts / OOV / bound laws gated in ReplaySpec",
    "q_model_quality" -> "alignment kernel + √ generalization are not SQL-expressible; flower-vs-strict tension + perfect-model laws gated in ReplaySpec",
    "q_dedup_incremental_bloom" -> "one-sided fpp error; bloom ⊆ exact gated in LlmDedupSpec",
    "q_quantiles_approx" -> "sketch-approximate; gated to exact tier in ScalePatternsSpec",
    "q_embed_topk_int8" -> "8-bit shortlist is approximate; recall-gated in AnnSpec",
    "q_distinct_approx" -> "HLL++ sketch is engine-specific; gated to exact within rsd in ScalePatternsSpec",
    "q_semdedup_clustered" -> "k-means cell assignment is data-dependent; removals ⊆ exact + planted-dup recall gated in SemDedupSpec",
    "q_bpe_tokens" -> "trained merge table is not SQL-expressible; textbook merges/roundtrip/replay-equivalence gated in BpeSpec",
    "q_unigram_tokens" -> "hard-EM piece table + Viterbi DP are not SQL-expressible; optimality/conservation/determinism/roundtrip gated in UnigramSpec",
    "q_semdedup_cells" -> "k-means cells are data-dependent; conservation + pair-volume laws gated in SemDedupSpec",
    "q_pca_project" -> "Jacobi eigensolve is not SQL-expressible; orthonormality/rotation/variance/whitening laws gated in PcaSpec",
    "q_knn_graph_lsh" -> "bucket-miss approximate by design; recall vs the exact kNN graph gated in AnnSpec",
    "q_hard_negatives_lsh" -> "bucket-miss approximate by design; recall vs the exact hard-negative tier + never-same-label law gated in AnnSpec",
    "q_fertility" -> "trained merge table is not SQL-expressible (the q_bpe_tokens contract); exact-ratio law on constructed merges gated in BpeSpec",
    "q_hybrid_rrf_ann" -> "dense arm is LSH-approximate; fused recall vs the exact hybrid gated in RetrievalSpec",
    "q_perplexity" -> "ln is not bit-identical cross-engine; driver-reimplementation bit-equality + ordering/conservation laws gated in LmSpec",
    "q_moore_lewis" -> "ln is not bit-identical cross-engine; single-pass ≡ two-pass bit-equality + domain-ordering laws gated in LmSpec",
    "q_cluster_quality" -> "k-means centroids are data-dependent; separation-ordering + partition laws gated in TopicsSpec",
    "q_topic_model" -> "k-means cell assignment is data-dependent; planted-topic term exclusivity + determinism gated in TopicsSpec",
    "q_word_vectors" -> "ln + Jacobi eigensolve are not SQL-expressible; identical-context-synonym / shape / determinism laws gated in WordVectorsSpec",
    "q_doc_embed" -> "consumes the q_word_vectors model (same non-SQL train); exact-mean / OOV-loud / map-only-plan laws gated in WordVectorsSpec",
    "q_editdist_pairs_lsh" -> "LSH candidate stage is bucket-miss approximate (one-sided); output ⊆ exact arm + planted-paraphrase recall gated in LlmDedupSpec",
    "q_dense_index_search" -> "IVF centroids are data-dependent k-means; store ≡ rebuild bit-equality, streaming-maintenance equality, and drift gates in DenseIndexSpec",
    "q_procrustes_align" -> "float treeAggregate order + iterative Jacobi are not SQL-expressible; planted-rotation recovery / orthogonality / geometry-preservation gated in ProcrustesSpec",
    "q_record_linkage" -> "the Jaro-Winkler match-window kernel is imperative, not SQL-expressible (DuckDB's builtin is a different variant); canonical Winkler vectors exact + kernel ≡ column + blocking/threshold laws gated in LinkageSpec",
    "q_isotonic" -> "PAV's pooling stack pops arbitrarily far back (audited r12: unlike Kaplan-Meier's per-row linear recurrence it has no bounded-lookback recursive-CTE form); hand-pooling / monotone / identity / conservation / ECE-improves laws gated in DataContractSpec",
    "q_media_dhash_pixel" -> "the JDK imageio codec's decoded raster is not SQL-visible; re-encode-collision / distinct-separation / byte-fallback-equality / exact-planted-twins laws gated in MultimodalSpec",
    "q_media_pipeline_pixel" -> "composition of the pixel kernel (codec raster not SQL-visible) with the oracle-checked CC/keep stages; per-stage laws incl. truncated-payload quarantine-by-decode gated in MultimodalSpec",
    "q_media_pipeline_phash" -> "the DCT pHash kernel's decoded raster is not SQL-visible; exact sf0.01 fixture arithmetic: 46 quarantined (id%11), 84/90 planted q=0.3 twins within the <=3 complete-banding ball, 6 at exactly hamming 4 kept (median-threshold pHash flips bit-pairs); collision/separation laws gated in MultimodalSpec",
    "q_media_pipeline_audio" -> "javax.sound PCM decode is not SQL-visible; exact sf0.01 fixture arithmetic: 46 quarantined (30-byte header cut), ALL 90 gain-2 twins dup at hamming 0 (sum-mix commutes with integer gain; kernel scale-free by 128-bit cross-multiply), 0 envelope collisions across distinct ids; laws gated in MultimodalSpec",
    "q_compression_ratio" -> "the deflate byte count (JDK Deflater, zlib level 6) is not SQL-visible; driver-rerun bit-determinism / repetitive-below-diverse ordering / worst-case-expansion bound / empty-NULL laws gated in TextOpsSpec",
    "q_media_pipeline_video" -> "MJPEG container split + codec raster are not SQL-visible; exact sf0.01 fixture arithmetic (scene-change keyframes, r14): 25 clips, 3 frameless-quarantined (50-byte cut), 4 q=0.5 re-encoded twins dup at FULL 6-scene support, 3 cadence-SHIFTED twins (lead-in frame dropped, then re-encoded) dup at full 5-scene support — the class positional every-k sampling provably misses (MultimodalSpec law shows cadence pairs = 0 on the same twin) — 22 kept, 32 status rows conserving the corpus; minFramePairs=2 still excludes the measured single-frame chance pairs; split/scene/cadence/truncation laws gated in MultimodalSpec")

  test("every query has an oracle or a documented rows-only reason") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val unchecked = qs -- oracles -- rowsOnlyByDesign.keySet
    assert(unchecked.isEmpty,
      s"queries with neither oracle nor documented rows-only status: $unchecked")
  }

  test("no orphan oracles, no oracle on a declared rows-only query") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((oracles -- qs).isEmpty, s"oracles without a query: ${oracles -- qs}")
    val both = oracles & rowsOnlyByDesign.keySet
    assert(both.isEmpty, s"declared rows-only but carrying an oracle: $both")
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  test("every harness query emits only atomic columns") {
    // The driver canonicalizes by sorting EVERY column in pandas; an
    // array/map/struct cell is unhashable there and the query then
    // registers NOTHING — not even a row count (r8 verdict #1,
    // q_pca_project). The schemas come from the plan ledger's one
    // construction pass over all queries.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = PlanLedger.pass.toSeq.sortBy(_._1).flatMap {
      case (name, e) =>
        e.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"complex-typed columns would be invisible to the driver: $offenders")
  }

  test("SPARK_GRAFT_ONLY skips blank entries and rejects unknown names") {
    assert(SparkEntry.only("q_topk,, q_union,") == Right(Set("q_topk", "q_union")))
    assert(SparkEntry.only(" , ").isLeft)
    assert(SparkEntry.only("q_topk,q_nope") ==
      Left("SPARK_GRAFT_ONLY names unknown queries: q_nope"))
  }
}
