package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window shaping for LLM training pipelines: document →
  * chunk splitting, greedy sequence packing, and deterministic
  * stratified sampling. The reference engine stops at event-log
  * export; these are the operators a corpus consumer runs next, so
  * they are first-class here (SURVEY.md §2.9).
  *
  * Scale notes (the 100 TB contract):
  *  - `chunkDocuments` is stateless row-local work — parallelism
  *    follows the scan partitioning, no shuffle at all.
  *  - `packGreedy` is the one inherently sequential op (a pack's
  *    membership depends on every earlier doc in its shard), so it
  *    shuffles ONCE on the shard key and streams each partition in
  *    sorted order — the secondary-sort shape: `repartition(shard)` +
  *    `sortWithinPartitions` + a constant-memory `mapPartitions`
  *    accumulator. Shard cardinality scales with the corpus (source,
  *    domain, date bucket), so partitions stay bounded; a skewed
  *    shard is handled by the `subShards` valve (deterministic
  *    id-hash sub-sharding, at a ≤ subShards-tail-packs cost).
  *  - `stratifiedSample` is a broadcast join against the (tiny) rate
  *    table plus a row-local hash test — no shuffle of the corpus.
  */
object Chunking {

  /** Split each document into token windows of `chunkTokens` with
    * `overlapTokens` of context carried between consecutive chunks
    * (stride = chunk − overlap). Window starts run while
    * `start < n − overlap`, so every chunk contributes tokens beyond
    * the carried overlap (no chunk is a suffix-copy of its
    * predecessor), every token appears in ≥ 1 chunk, and a document
    * not longer than the window yields exactly one chunk.
    *
    * Implementation: `posexplode_outer(sequence(0, n−1, stride))`
    * generates the window starts — `_outer` plus the explicit
    * `isNotNull` filter ABOVE the generator keeps Catalyst from
    * inferring a `size(...) > 0` predicate and re-substituting the
    * split below the exchange (the r5 pushdown-trap family, see
    * PlanShapeSpec). `slice` + `array_join` are plain codegen'd
    * builtins — no interpreted lambda in the hot path.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int = 32, overlapTokens: Int = 8,
                     carryCols: Seq[String] = Nil): DataFrame = {
    val stride = chunkTokens - overlapTokens
    require(stride > 0, s"overlapTokens ($overlapTokens) must be < chunkTokens ($chunkTokens)")
    // working/output names must not silently shadow real input columns
    // (same guard class as AsofJoin/IntervalJoin's reserved columns)
    for (c <- Seq("__toks", "__n", "__start", "chunk_idx", "chunk_text", "chunk_tokens"))
      require(!df.columns.contains(c),
        s"chunkDocuments: input already has a '$c' column — rename it")
    val carry = carryCols.map(col)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol) +: carry :+ split(col(textCol), " ").as("__toks"): _*)
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol) +: carry :+ col("__toks") :+ col("__n") :+
        posexplode_outer(sequence(lit(0),
            greatest(col("__n") - (overlapTokens + 1), lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "__start")): _*)
      .filter(col("__start").isNotNull)
      .select(col(idCol) +: carry :+ col("chunk_idx") :+
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text") :+
        least(lit(chunkTokens), col("__n") - col("__start")).cast("long")
          .as("chunk_tokens"): _*)
  }

  /** Greedy sequential packing: within each shard, walk documents in
    * `idCol` order and append to the current pack while the running
    * token count stays ≤ `budgetTokens`; otherwise start a new pack.
    * A single document over budget gets a pack of its own (packs are
    * never split mid-document). Returns per-pack stats — the frame a
    * pipeline joins back to fetch members, or feeds straight into a
    * tokenizer batch planner.
    *
    * Greedy-in-id-order (vs bin-packing) is the standard training-
    * data choice: deterministic, single pass, and order preservation
    * is itself a feature (documents from one crawl stay adjacent).
    */
  def packGreedy(df: DataFrame, shardCol: String, idCol: String,
                 textCol: String, budgetTokens: Long,
                 subShards: Int = 1): DataFrame = {
    require(budgetTokens > 0, "packGreedy: budgetTokens must be positive")
    require(subShards >= 1, "packGreedy: subShards must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Skew valve: a shard far bigger than its peers (one dominant
    // crawl source) serializes on a single task, since greedy packing
    // is sequential per shard. subShards > 1 splits each shard by a
    // deterministic id hash into independently-packed sub-shards —
    // parallelism × subShards at the cost of ≤ subShards partially-
    // filled tail packs per shard. Output shards are then named
    // "<shard>#<i>", keeping sub-shard provenance auditable.
    val shardExpr =
      if (subShards == 1) col(shardCol).cast("string")
      else concat(col(shardCol).cast("string"), lit("#"),
        pmod(xxhash64(col(idCol)), lit(subShards.toLong)))
    val assigned = df
      .filter(col(textCol).isNotNull)
      .select(shardExpr.as("shard"),
        col(idCol).cast("long").as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // Constant-memory accumulator; resets at each shard boundary
        // (a partition holds whole shards, in (shard, doc_id) order).
        var curShard: String = null
        var acc = 0L
        var packId = 0L
        it.map { case (shard, docId, n) =>
          if (shard != curShard) { curShard = shard; packId = 1L; acc = 0L }
          if (acc > 0L && acc + n > budgetTokens) { packId += 1L; acc = 0L }
          acc += n
          (shard, packId, docId, n)
        }
      }
      .toDF("shard", "pack_id", "doc_id", "n_tokens")
    assigned.groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** Deterministic per-stratum subsampling: keep a row iff a hash of
    * its id lands under the stratum's rate. Strata absent from
    * `rates` are dropped (rate 0). The rate table rides a broadcast
    * join, so the corpus itself never shuffles, and re-running the
    * pipeline reproduces the exact same sample — the property random()
    * sampling can't give an incremental 100 TB pipeline.
    *
    * The hash is a Weyl mix on the low 16 id bits — exact integer
    * arithmetic both Spark and DuckDB reproduce, so the query is
    * oracle-checkable; granularity is 1/65536 and ids congruent mod
    * 2^16 sample together.
    */
  /** Deterministic train/val/test assignment: the same Weyl bucket as
    * `stratifiedSample` cut into cumulative-weight ranges, emitted as
    * a `split` column. Row-local (no shuffle, no join); re-running on
    * a grown corpus never moves an old document between splits —
    * the property a random split can't give an incremental pipeline.
    * Weights must sum to ≤ 1; any remainder falls to the LAST split
    * (so ("train" → 0.9, "val" → 0.05, "test" → 0.05) is exhaustive
    * by construction). Insertion order of `weights` is the cut order.
    */
  /** Leakage-safe train/val/test assignment: `hashSplit` keyed by the
    * NEAR-DUP CLUSTER representative instead of the document id. A
    * plain hash split puts two near-duplicate documents on opposite
    * sides of the train/test fence with probability 2·p(1−p) each —
    * at 100 TB that is millions of leaked pairs silently inflating
    * eval, the exact failure benchmark decontamination exists to
    * catch AFTER the fact; keying the split by the duplicate
    * cluster's min-id keeps every member of a family on the same
    * side BY CONSTRUCTION. Documents in no pair key by their own id
    * (their own singleton cluster), so the split remains row-local
    * for the overwhelming non-duplicated majority and append-stable
    * in the `hashSplit` sense; the cluster table (pair-graph-sized,
    * tiny next to the corpus) joins in once.
    *
    * `pairs` is any near-dup pair table (`minhashNearDups`, the exact
    * Jaccard tier, `mediaNearDups`, ...) — the same composition
    * freedom as `connectedComponents`, which this calls.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String,
                       pairs: DataFrame, aCol: String, bCol: String,
                       weights: Seq[(String, Double)]): DataFrame = {
    require(!df.columns.contains("__rep"),
      "leakageSafeSplit: '__rep' is reserved for internal use — rename it")
    val cc = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_id"))
    val keyed = df.join(cc, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    hashSplit(keyed, "__rep", weights).drop("__rep")
  }

  def hashSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum <= 1.0 + 1e-9,
      "hashSplit: weights must sum to <= 1")
    require(!df.columns.contains("split"),
      "hashSplit: input already has a 'split' column — rename it")
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    val assign = weights.init.zip(cuts.init).foldLeft(
      when(lit(false), lit(null: String))) { case (acc, ((name, _), cut)) =>
        acc.when(bucket < lit(cut * denom), name)
      }.otherwise(lit(weights.last._1))
    df.withColumn("split", assign)
  }

  /** Deterministic FIXED-SIZE sample per stratum: the k rows with the
    * smallest portable Weyl bucket of the id (ties on the id itself).
    * Complements `stratifiedSample` (rate-based, size varies with the
    * stratum): an eval-set builder wants exactly k per key. The window
    * row_number plans as partial+final WindowGroupLimit on Spark 4 —
    * each map task keeps only its local top-k, so the shuffle carries
    * k rows per (task, stratum), never the corpus (the q_topn_per_key
    * plan gate covers the same shape). Deterministic and append-
    * stable in the same sense as `hashSplit`: a grown corpus can only
    * displace old picks by hashing BELOW them, never reshuffle.
    */
  def sampleKPerKey(df: DataFrame, stratumCol: String, idCol: String,
                    k: Int): DataFrame = {
    require(k > 0, "sampleKPerKey: k must be positive")
    require(!df.columns.contains("__rk"),
      "sampleKPerKey: input already has a '__rk' column — rename it")
    import org.apache.spark.sql.expressions.Window
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    val w = Window.partitionBy(col(stratumCol)).orderBy(bucket.asc, col(idCol).asc)
    df.select(col(stratumCol), col(idCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(stratumCol), col(idCol), col("__rk").as("pick_rank"))
  }

  /** Gumbel top-k: draw EXACTLY k rows per stratum WITHOUT replacement
    * with inclusion probability proportional to a positive weight —
    * the fixed-size WEIGHTED member of the sampling family
    * (`mixToBudget` is rate-shaped, `ppsSystematicSample` is
    * boundary-shaped, `sampleKPerKey` is uniform). The Gumbel-max /
    * Efraimidis-Spirakis construction: each row gets
    * key = ln(w) − ln(−ln(u)) — a Gumbel(ln w) draw — and the k
    * LARGEST keys are the sample; top-k under Gumbel(ln w) noise is
    * distributionally identical to sequential weighted
    * draw-without-replacement (Yellott 1977; Efraimidis & Spirakis
    * 2006's u^{1/w} keys are the same order statistic).
    *
    * u comes from the portable 16-bit Weyl bucket of the id (the
    * `stratifiedSample`/`hashSplit` generator), u = (bucket+1)/65537
    * ∈ (0,1) so both logarithms are finite; the draw is DETERMINISTIC
    * and append-stable — a grown corpus re-draws nothing, a new row
    * enters the sample only by outranking the standing top-k. The key
    * is floor-quantized to micro BEFORE ranking (id tie-break), so
    * the sample replays in the DuckDB oracle: ln is IEEE-double in
    * both engines, and a floor flip needs the true key within ~1e-10
    * of a micro boundary — negligible on any real corpus, and
    * value-checked across engines by the driver gate every round.
    * Non-positive or NULL weights fail LOUD (a silent drop would bias
    * the design; a zero-weight row simply doesn't belong in the
    * frame).
    *
    * Scale shape: the key is row-local arithmetic on the scan; the
    * rank is ONE window over the stratum key, planning as
    * partial+final WindowGroupLimit on Spark 4 — each map task keeps
    * its local top-k, so the shuffle carries k rows per (task,
    * stratum), never the corpus.
    */
  def sampleGumbelTopK(df: DataFrame, stratumCol: String, idCol: String,
                       weightCol: String, k: Int): DataFrame = {
    require(k > 0, "sampleGumbelTopK: k must be positive")
    gumbelRanked(df, stratumCol, idCol, weightCol, "sampleGumbelTopK")
      .filter(col("sample_rank") <= k)
      .select(col(stratumCol), col(idCol), col("gumbel_micro"),
        col("sample_rank"))
  }

  /** Shared Gumbel-key machinery: every row gets its micro-floored
    * Gumbel(ln w) key and its (key DESC, id ASC) rank within the
    * stratum. The literal rank filter the CALLERS apply immediately
    * after is what lets Spark's rank-limit pushdown cap per-stratum
    * state before the shuffle — keep any new consumer shaped that way.
    */
  private def gumbelRanked(df: DataFrame, stratumCol: String, idCol: String,
                           weightCol: String, op: String): DataFrame = {
    for (c <- Seq("__b", "__w", "gumbel_micro", "sample_rank")
        if df.columns.contains(c))
      require(false, s"$op: '$c' is reserved — rename it")
    import org.apache.spark.sql.expressions.Window
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("gumbel_micro").desc, col(idCol).asc)
    df.select(col(stratumCol), col(idCol),
        when(col(weightCol).isNull || col(weightCol) <= 0,
          expr(s"raise_error('$op: $weightCol must be a" +
            " positive weight')"))
          .otherwise(col(weightCol).cast("double")).as("__w"),
        bucket.as("__b"))
      // 65537.0D / 1000000.0D: the D suffix matters — a bare fractional
      // literal parses as DECIMAL in Spark SQL, and decimal division
      // would shift u by ~1e-4 off the oracle's double arithmetic
      .withColumn("gumbel_micro", expr(
        "CAST(floor((ln(__w) - ln(-ln(CAST(__b + 1 AS DOUBLE) / 65537.0D)))" +
          " * 1000000.0D) AS BIGINT)"))
      .withColumn("sample_rank", row_number().over(w))
  }

  /** Allocation-driven Gumbel draw — the composition that completes
    * the LABELING-BUDGET pipeline: `neymanAllocation` decides HOW MANY
    * rows each stratum deserves (∝ N_h·σ_h — label where the data
    * varies), and this draw decides WHICH rows fill each stratum's
    * quota (∝ a positive importance weight, without replacement, the
    * Gumbel-max machinery of `sampleGumbelTopK` with a PER-STRATUM k).
    * Same deterministic/append-stable/SQL-replayable key.
    *
    * `maxAlloc` is the scale valve: the rank window filters against
    * this LITERAL bound first — that is what lets the rank-limit
    * pushdown cap per-stratum state before the shuffle, because a
    * join-supplied bound can't be pushed into the window — and the
    * per-stratum allocation (≤ maxAlloc, checked LOUD) prunes the
    * survivors. Pass the allocation's budget: no stratum's quota can
    * exceed it by construction.
    *
    * Allocation contract: a stratum absent from `alloc`, or carrying
    * a NULL allocation (`neymanAllocation`'s all-constant undefined
    * case), draws NOTHING — by contract, not silently: the allocator
    * already reported those rows.
    */
  def sampleGumbelToAllocation(df: DataFrame, stratumCol: String,
                               idCol: String, weightCol: String,
                               alloc: DataFrame, allocCol: String,
                               maxAlloc: Long): DataFrame = {
    require(maxAlloc > 0, "sampleGumbelToAllocation: maxAlloc must be positive")
    require(!df.columns.contains("__alloc"),
      "sampleGumbelToAllocation: '__alloc' is reserved — rename it")
    val a = alloc.select(col(stratumCol),
      col(allocCol).cast("long").as("__alloc"))
      .filter(col("__alloc").isNotNull && col("__alloc") > 0L)
      .withColumn("__alloc",
        when(col("__alloc") > maxAlloc,
          expr(s"raise_error('sampleGumbelToAllocation: an allocation" +
            s" exceeds maxAlloc = $maxAlloc — pass the budget')"))
          .otherwise(col("__alloc")))
    gumbelRanked(df, stratumCol, idCol, weightCol, "sampleGumbelToAllocation")
      .filter(col("sample_rank") <= maxAlloc)
      .join(broadcast(a), Seq(stratumCol))
      .filter(col("sample_rank") <= col("__alloc"))
      .select(col(stratumCol), col(idCol), col("gumbel_micro"),
        col("sample_rank"), col("__alloc").as("alloc"))
  }

  /** Token-budget corpus mixing, row view: the documents the mixing
    * decision KEEPS — every source downsampled to ≈`budgetTokens` of
    * text (sources already under budget pass whole). The per-source
    * rate is computed from one token-count aggregate —
    * rate = min(1, budget / total) — and applied with the same
    * portable Weyl bucket as `stratifiedSample`, so the pick is
    * deterministic and append-stable per document. The rate table is
    * source-cardinality-sized and broadcast; the corpus is scanned
    * twice (totals + pick) and never shuffled for the sampling
    * decision itself. One double divide and one double compare per
    * row on exact integer inputs — cross-engine deterministic.
    * Columns: (sourceCol, idCol, n_tokens).
    */
  def mixToBudgetRows(df: DataFrame, sourceCol: String, idCol: String,
                      textCol: String, budgetTokens: Long): DataFrame = {
    val (withTok, totals) = mixRates(df, sourceCol, idCol, textCol, budgetTokens)
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    withTok.join(broadcast(totals), Seq(sourceCol))
      .where(bucket < col("__rate") * lit(denom.toDouble))
      .select(col(sourceCol), col(idCol), col("__nt").as("n_tokens"))
  }

  /** Audit/stats view of the same mixing decision: one row PER SOURCE
    * (a source whose pick keeps zero documents still appears, with
    * n_sampled = 0) giving how many documents and tokens survived
    * against the source's corpus total. Built on `mixToBudgetRows` —
    * the kept rows themselves — so the two views cannot drift.
    */
  def mixToBudget(df: DataFrame, sourceCol: String, idCol: String,
                  textCol: String, budgetTokens: Long): DataFrame = {
    val (_, totals) = mixRates(df, sourceCol, idCol, textCol, budgetTokens)
    val picked = mixToBudgetRows(df, sourceCol, idCol, textCol, budgetTokens)
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("__ns"), sum("n_tokens").as("__st"))
    totals.join(picked, Seq(sourceCol), "left")
      .select(col(sourceCol),
        coalesce(col("__ns"), lit(0L)).as("n_sampled"),
        coalesce(col("__st"), lit(0L)).as("sampled_tokens"),
        col("__total").as("corpus_tokens"))
  }

  private def mixRates(df: DataFrame, sourceCol: String, idCol: String,
                       textCol: String, budgetTokens: Long): (DataFrame, DataFrame) = {
    require(budgetTokens > 0, "mixToBudget: budgetTokens must be positive")
    for (c <- Seq("__nt", "__total", "__rate", "__ns", "__st", "n_tokens")
         if df.columns.contains(c))
      require(false, s"mixToBudget: '$c' is reserved for internal use — rename it")
    val withTok = df.select(col(sourceCol), col(idCol),
      size(split(col(textCol), " ")).cast("long").as("__nt"))
    val totals = withTok.groupBy(sourceCol)
      .agg(sum("__nt").as("__total"))
      .withColumn("__rate", least(lit(1.0),
        lit(budgetTokens.toDouble) / col("__total").cast("double")))
    (withTok, totals)
  }

  /** Dedup-adjusted source mixture — the COMPOSITION of the soft-dedup
    * weights (`Dedup.softDedupWeights`) with the mixing layer's
    * decision input: per source, raw vs EFFECTIVE token mass, where a
    * document contributes floor(n_tokens · weight_micro / 1e6) tokens
    * — so a near-dup cluster's text counts ONCE toward its sources'
    * shares no matter how many copies the crawl caught. The effective
    * micro-unit share is what a temperature mix / budget sampler
    * should draw from after soft dedup; comparing it to the raw share
    * shows exactly how much each source's apparent mass was duplicate
    * inflation (the CommonCrawl-vs-curated correction in the
    * SlimPajama writeup).
    *
    * All arithmetic exact integers (floor-scaled products, integer
    * share division) ⇒ full DuckDB replay. Scale shape: one id-keyed
    * join of the weight table onto the corpus, one per-source
    * partial-agg shuffle collapsing to S rows, 1-row total broadcast
    * back — the corpus never shuffles on anything but the id join.
    *
    * Output: (sourceCol, n_docs, raw_tokens, eff_tokens,
    * eff_share_micro).
    */
  def weightedSourceMix(docs: DataFrame, sourceCol: String, idCol: String,
                        textCol: String, weights: DataFrame): DataFrame = {
    for (c <- Seq("__nt", "__eff", "n_docs", "raw_tokens", "eff_tokens",
        "eff_share_micro", "weight_micro") if docs.columns.contains(c))
      require(false, s"weightedSourceMix: '$c' is reserved for internal use — rename it")
    val joined = docs
      .select(col(sourceCol), col(idCol),
        size(split(col(textCol), " ")).cast("long").as("__nt"))
      .join(weights.select(col(idCol), col("weight_micro")), Seq(idCol))
      .withColumn("__eff", expr("__nt * weight_micro div 1000000"))
    val perSource = joined.groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").cast("long").as("raw_tokens"),
        sum("__eff").cast("long").as("eff_tokens"))
    val total = perSource.agg(sum("eff_tokens").cast("long").as("__tot"))
    perSource.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"), col("raw_tokens"),
        col("eff_tokens"),
        expr("eff_tokens * 1000000 div __tot").as("eff_share_micro"))
  }

  /** Deterministic global shuffle + sharding — the "shuffle the corpus
    * before training" step, made reproducible. Each document's shard
    * is the portable Weyl bucket of its id modulo `nShards` (so shard
    * MEMBERSHIP is row-local and append-stable: a grown corpus never
    * moves an old document to another shard), and its position within
    * the shard is the rank by (bucket, id) — a pseudo-random traversal
    * order decorrelated from insertion order, which is the point of
    * the pre-training shuffle.
    *
    * Scale shape: ONE shuffle, on the shard id — exactly the
    * partitioning a sharded training-set write wants anyway — then a
    * per-shard sort; with nShards sized so a shard fits a task
    * (corpus/nShards rows), the rank window never spills. Positions
    * within a shard do shift when new documents hash into it — rank
    * is global within the shard by construction; only membership is
    * append-stable.
    *
    * Output: (idCol, shard, pos), pos 1-based within shard.
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "shardAssign: nShards must be positive")
    for (c <- Seq("__bucket", "shard", "pos") if df.columns.contains(c))
      require(false, s"shardAssign: '$c' is reserved for internal use — rename it")
    import org.apache.spark.sql.expressions.Window
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__bucket").asc, col(idCol).asc)
    df.select(col(idCol), bucket.as("__bucket"))
      .withColumn("shard", pmod(col("__bucket"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Multi-epoch reshuffle: a DIFFERENT deterministic traversal order
    * per training epoch, without ever re-shuffling the data — the
    * "reshuffle each epoch" loaders do, made reproducible and
    * shard-local (shard membership stays the append-stable
    * `shardAssign` bucket; only the within-shard ORDER changes per
    * epoch, which is how real loaders work: shards are the I/O unit,
    * the reorder is in-memory per shard).
    *
    * Per (epoch, shard) the new position is the affine permutation
    *   pos' = (a · (pos-1) + b) mod n + 1
    * which is bijective iff gcd(a, n) = 1: `a` is the first integer
    * from a seeded per-(epoch, shard) starting point in [2, 998] that
    * is coprime with the shard size (found by a bounded driver-side
    * walk — and expressible in the DuckDB oracle as
    * `list_filter(range(...), x -> gcd(x, n) = 1)[1]`, which is what
    * makes the whole operator hash-checkable), `b` a seeded offset.
    * `a` ≤ ~1000 keeps `a·n` far from BIGINT overflow for any
    * realistic shard (n < ~9e15). An affine map sends consecutive
    * positions to stride-`a` positions — exactly the
    * break-adjacent-document-locality property an epoch reshuffle is
    * for; it is NOT cryptographic mixing and is documented as such.
    *
    * Scale shape: the only aggregation is the per-shard count
    * (nShards rows to the driver — bounded); the params table
    * (epochs × nShards rows) broadcast-joins back on shard, and the
    * position map is row-local arithmetic. Nothing corpus-sized
    * shuffles beyond what `shardAssign` already did.
    *
    * Output: (epoch, idCol, shard, pos) — pos is the epoch's traversal
    * position within the shard, 1-based.
    */
  def epochOrder(df: DataFrame, idCol: String, nShards: Int,
                 epochs: Int, seed: Long): DataFrame = {
    require(epochs >= 1 && epochs <= 1024, "epochOrder: epochs must be in [1, 1024]")
    require(seed >= 0, "epochOrder: seed must be non-negative")
    for (c <- Seq("epoch", "__a", "__b", "__n") if df.columns.contains(c))
      require(false, s"epochOrder: '$c' is reserved for internal use — rename it")
    val spark = df.sparkSession
    // materialize the sharded layout once (the write a training layout
    // does anyway) — it feeds both the bounded counts collect and the
    // per-epoch map, without replaying the rank window per consumer
    val sharded = shardAssign(df, idCol, nShards).localCheckpoint(eager = true)
    val counts = sharded.groupBy("shard").count()
      .collect().map(r => r.getAs[Int]("shard") -> r.getAs[Long]("count")).toMap
    val params = for {
      e <- 1 to epochs
      (sh, n) <- counts.toSeq.sortBy(_._1)
    } yield {
      val base = (40503L * e + 2654435761L * sh + seed) % 997L + 2L
      val a = (base until base + 1000L).find(c =>
        BigInt(c).gcd(BigInt(n)) == 1).getOrElse(
        throw new IllegalArgumentException(
          s"epochOrder: no coprime stride in [$base, ${base + 1000}) for shard size $n"))
      val b = (seed * 31L + e * 17L + sh * 101L) % n
      (e, sh, a, b, n)
    }
    import spark.implicits._
    val paramsDf = params.toDF("epoch", "shard", "__a", "__b", "__n")
    sharded
      .join(broadcast(paramsDf), "shard")
      .select(col("epoch"), col(idCol), col("shard"),
        (((col("__a") * (col("pos") - 1) + col("__b")) % col("__n")) + 1)
          .cast("int").as("pos"))
  }

  /** Size-targeted shard plan: per source, how many output files a
    * write should produce so each lands near `targetBytes` — the
    * SMALL-FILES/GIANT-FILES valve every 100 TB pipeline needs ahead
    * of its parquet sink (a 100 TB write at the default parallelism
    * produces either millions of KB-files or a handful of TB-files;
    * both kill the downstream scan). Integer ceiling division on
    * exact byte sums, so the plan is oracle-checkable.
    * Output: (sourceCol, n_docs, total_bytes, n_shards).
    */
  def shardPlan(df: DataFrame, textCol: String, sourceCol: String,
                targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "shardPlan: targetBytes must be positive")
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col(textCol)).cast("long")).as("total_bytes"))
      .withColumn("n_shards",
        greatest(lit(1L),
          expr(s"(total_bytes + ${targetBytes - 1}) div $targetBytes"))
          .cast("int"))
  }

  /** Executes a size-targeted write: computes the GLOBAL shard count
    * from `shardPlan`'s arithmetic (one bounded aggregate), then
    * `repartitionByRange(n, idCol)` — deterministic contiguous id
    * ranges, which preserves id-range pruning for downstream readers —
    * and writes parquet. Returns the shard count so callers can
    * assert the file fan-out. The repartition is the ONE shuffle a
    * sized write needs; everything else is the write itself.
    */
  def writeSizedShards(df: DataFrame, idCol: String, textCol: String,
                       targetBytes: Long, path: String): Int = {
    require(targetBytes > 0, "writeSizedShards: targetBytes must be positive")
    val row = df.agg(
      sum(octet_length(col(textCol)).cast("long")).as("b")).head()
    val bytes = if (row.isNullAt(0)) 0L else row.getLong(0)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    df.repartitionByRange(n, col(idCol))
      .write.mode("overwrite").parquet(path)
    n
  }

  /** Temperature-scaled source mixing — the Pile/LLaMA recipe: source
    * s gets sampling weight |s|^α (α < 1 upweights small, high-value
    * sources relative to bulk crawl), normalized across sources, and a
    * token budget is split by those weights; each source is then
    * downsampled to its allocation with the portable Weyl pick
    * (deterministic, append-stable — same contract as `mixToBudget`).
    *
    * Cross-engine arithmetic: |s|^0.5-style powers use IEEE `sqrt`
    * (correctly rounded, bit-identical across engines) when α = 0.5,
    * else `pow` — so α is restricted to 0.5 here; the per-source
    * weights are quantized to integer micro-units BEFORE the
    * cross-source normalization sum, which makes Σweights
    * addition-order-free (the same order-independence trick as BM25's
    * per-term quantization). One aggregate over the corpus, a
    * source-cardinality-sized weight table broadcast back, zero
    * corpus shuffles.
    *
    * Output: one row per KEPT document (sourceCol, idCol, n_tokens),
    * plus the decision columns (alloc_tokens, rate) for auditability.
    */
  def mixTemperature(df: DataFrame, sourceCol: String, idCol: String,
                     textCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "mixTemperature: budgetTokens must be positive")
    for (c <- Seq("__total", "__wq", "__wsum", "__alloc", "__rate",
        "n_tokens", "alloc_tokens", "rate") if df.columns.contains(c))
      require(false, s"mixTemperature: '$c' is reserved for internal use — rename it")
    val withTok = df.select(col(sourceCol), col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val totals = withTok.groupBy(sourceCol)
      .agg(sum("n_tokens").as("__total"))
      // weight_q = floor(sqrt(total) * 1e6): exact-integer input, one
      // correctly-rounded sqrt, one exact *2^k-free multiply, floor —
      // deterministic on both engines; Σ over sources is then integer.
      .withColumn("__wq",
        floor(sqrt(col("__total").cast("double")) * lit(1e6)).cast("long"))
    val wsum = totals.agg(sum("__wq").as("__wsum"))
    val alloc = totals.crossJoin(broadcast(wsum))
      // alloc = budget · wq / wsum, in integer arithmetic (· before
      // div, no doubles). budget·wq must stay under 2^63: wq =
      // floor(sqrt(total)·1e6), so the safe budget is ~9.2e18/(1e6·
      // sqrt(total)) — e.g. a 1e12-token source (wq = 1e12) overflows
      // at budgets above ~9.2e6 (r8 advisor; the earlier "~1e9 is
      // safe" note was wrong for large sources). The guard below
      // raises a named error BEFORE the multiply rather than letting
      // ANSI overflow surface as a generic ARITHMETIC_OVERFLOW; it
      // rides the per-source alloc expression on the tiny totals
      // table, so it cannot be pruned away and costs nothing.
      .withColumn("__alloc",
        least(col("__total"),
          when(col("__wq") > lit(Long.MaxValue) / lit(budgetTokens),
            expr("raise_error('mixTemperature: budgetTokens * source weight " +
              "overflows int64 — lower the budget or rescale the " +
              "quantization unit (wq = floor(sqrt(total_tokens)*1e6))')")
              .cast("long"))
          .otherwise(expr(s"($budgetTokens * __wq) div __wsum"))))
      .withColumn("__rate",
        least(lit(1.0),
          col("__alloc").cast("double") / col("__total").cast("double")))
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    withTok.join(broadcast(alloc.select(col(sourceCol), col("__alloc"),
        col("__rate"))), Seq(sourceCol))
      .where(bucket < col("__rate") * lit(denom.toDouble))
      .select(col(sourceCol), col(idCol), col("n_tokens"),
        col("__alloc").as("alloc_tokens"), col("__rate").as("rate"))
  }

  /** GPT-style fixed-length block packing: concatenate every document
    * in a shard (deterministic `shardAssign` order, one implicit EOD
    * token after each document) and cut the stream into consecutive
    * `blockTokens`-token training blocks. Emits one row per
    * (document, block) intersection — a SPAN VIEW (start_in_doc /
    * start_in_block / len), not exploded tokens, so the shuffled and
    * emitted volume is O(docs + crossings), never O(corpus tokens).
    *
    * Differs from `chunkDocuments` (per-doc windows, no cross-doc
    * packing) and `packGreedy` (variable bin fill, no doc splitting):
    * blocks here are EXACTLY `blockTokens` wide and documents straddle
    * block boundaries, which is how decoder pre-training batches are
    * actually laid out.
    *
    * Scale shape: one shuffle (the per-shard window, on the same
    * partitioning a sharded write wants), then a row-local block-range
    * explode. All arithmetic is exact integer `div`/`mod` — offsets
    * stay well under 2^53 per shard even at the 100 TB design point,
    * and the oracle replays the identical window + range explode.
    *
    * Output: (idCol, shard, block, start_in_doc, start_in_block, len);
    * blocks are numbered globally within the shard's token stream.
    */
  def packBlocks(df: DataFrame, idCol: String, textCol: String,
                 nShards: Int, blockTokens: Int): DataFrame = {
    require(nShards > 0 && blockTokens > 0,
      "packBlocks: nShards and blockTokens must be positive")
    for (c <- Seq("__bucket", "__n", "shard", "off", "block", "__bstart")
         if df.columns.contains(c))
      require(false, s"packBlocks: '$c' is reserved for internal use — rename it")
    import org.apache.spark.sql.expressions.Window
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__bucket").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val L = blockTokens.toLong
    df.select(col(idCol), bucket.as("__bucket"),
        size(split(col(textCol), " ")).cast("long").as("__n"))
      .withColumn("shard", pmod(col("__bucket"), lit(nShards.toLong)).cast("int"))
      .withColumn("off", coalesce(sum(col("__n") + lit(1L)).over(w), lit(0L)))
      .withColumn("block", explode(sequence(
        expr(s"off div $L"), expr(s"(off + __n - 1) div $L"))))
      .withColumn("__bstart", col("block") * lit(L))
      .select(
        col(idCol),
        col("shard"),
        col("block"),
        (greatest(col("__bstart"), col("off")) - col("off")).as("start_in_doc"),
        (greatest(col("__bstart"), col("off")) - col("__bstart")).as("start_in_block"),
        (least(col("__bstart") + lit(L), col("off") + col("__n")) -
          greatest(col("__bstart"), col("off"))).as("len"))
  }

  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       rates: Map[String, Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.sortBy(_._1).toDF(stratumCol, "__rate")
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    df.select(col(idCol), col(stratumCol))
      .join(broadcast(ratesDf), Seq(stratumCol))
      .where(bucket < col("__rate") * lit(denom.toDouble))
      .select(col(idCol), col(stratumCol))
  }

  /** Per-source token-length histogram in power-of-2 buckets — the
    * DECISION INPUT for the packing layer (`packGreedy` budget,
    * `packBlocks` width, `chunkDocuments` window): what fraction of
    * each source's documents land in which length band, with exact
    * micro-unit shares. The skewProfile/thresholdSweep pattern applied
    * to sequence length.
    *
    * The bucket is floor(log2 n)+1 computed EXACTLY as the length of
    * the minimal binary string (`bin(n)` exists in both engines with
    * identical output for positives) — never a floating log2, whose
    * boundary rounding is libm-dependent. Empty/null docs land in a
    * loud bucket 0 instead of vanishing. Everything is row-local
    * before one partial-agg shuffle collapsing to |sources|·~40 rows;
    * the share window runs over that collapsed table.
    */
  def lengthHistogram(df: DataFrame, sourceCol: String,
                      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = when(col(textCol).isNull, lit(0L))
      .otherwise(size(split(col(textCol), " ")).cast("long"))
    val w = Window.partitionBy(col(sourceCol))
    df.select(col(sourceCol), n.as("__n"))
      .withColumn("bucket", when(col("__n") <= 0L, lit(0))
        .otherwise(length(bin(col("__n")))).cast("int"))
      .groupBy(col(sourceCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("tok_sum"))
      .withColumn("lo", expr(
        "CASE WHEN bucket = 0 THEN 0L ELSE shiftleft(1L, bucket - 1) END"))
      .withColumn("hi", expr(
        "CASE WHEN bucket = 0 THEN 0L ELSE shiftleft(1L, bucket) - 1L END"))
      .withColumn("__tot", sum(col("n_docs")).over(w))
      .withColumn("share_micro", expr("(n_docs * 1000000L) div __tot"))
      .select(col(sourceCol), col("bucket"), col("lo"), col("hi"),
        col("n_docs"), col("tok_sum"), col("share_micro"))
  }

  /** Sorted dynamic batching ledger — the padded-batch counterpart to
    * `packBlocks`' concat packing: inference/eval serving pads every
    * sequence in a batch to the batch max, so the per-batch padding
    * waste is what length-sorted batching exists to minimize (the
    * fairseq/HF `group_by_length` discipline). Documents are bucketed
    * by token count (`bucketWidth` tokens per bucket), ordered
    * longest-first inside the bucket with the id tie-break, and cut
    * into batches of `batchSize`; each batch row reports exact-integer
    * occupancy: padded slots = n_docs · max_tokens, waste = padded −
    * Σ tokens. Waste per doc is bounded by bucketWidth − 1 BY
    * CONSTRUCTION (all docs in a bucket are within one width of its
    * max) — that bound, not the sort, is what survives at scale.
    *
    * Scale shape: the length bucket is the window PARTITION key, so
    * the sort is per-bucket (one Exchange, no global ordering), and
    * the batch aggregate partial-combines on (bucket, batch). A
    * skew-heavy corpus concentrates in few buckets — tighten
    * bucketWidth to re-spread, the same valve `q_join_salted` gates.
    */
  def lengthBatches(df: DataFrame, idCol: String, textCol: String,
                    bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth > 0, s"lengthBatches: bucketWidth > 0, got $bucketWidth")
    require(batchSize > 0, s"lengthBatches: batchSize > 0, got $batchSize")
    import org.apache.spark.sql.expressions.Window
    val n = when(col(textCol).isNull, lit(0L))
      .otherwise(size(split(col(textCol), " ")).cast("long"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens").desc, col(idCol))
    df.select(col(idCol), n.as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div ${bucketWidth}L"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch", expr(s"(__rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("max_tokens"))
      .withColumn("waste_tokens", col("padded_tokens") - col("sum_tokens"))
  }

  /** Release manifest: the per-shard integrity ledger a dataset
    * publication ships beside the parquet — doc count, byte volume,
    * id range (the range-pruning contract `writeSizedShards` readers
    * rely on), and an ORDER-FREE content checksum, one row per Weyl
    * shard (the same append-stable `shardAssign` bucket, so the
    * manifest row addresses exactly the files that shard writes).
    *
    * The checksum must be (a) insensitive to row order — shard
    * contents are set-semantics, and a distributed aggregate must not
    * depend on arrival order — and (b) reproducible on ANY engine a
    * consumer validates with. Per doc: h = md5(id || '|' || text)
    * (id inside the hash, so a re-keyed row changes the digest), then
    * the position-weighted hex fold d = Σ_{i=1..32} ascii(h[i])·i²,
    * summed per shard as exact BIGINTs. The fold keeps ~21 bits per
    * doc on top of md5's avalanche — an INTEGRITY check (bit rot,
    * truncated loads, re-keyed rows), not a cryptographic commitment,
    * and documented as such: d ≤ 3.4e6, so a shard needs ~2.7e12 docs
    * to overflow int64 — far beyond any real shard.
    *
    * Scale shape: everything before the aggregate is row-local (md5 +
    * a 32-step fold per row); ONE partial-aggregated shuffle on the
    * shard id collapsing to nShards rows pre-exchange. The corpus
    * never moves.
    */
  /** PPS-systematic corpus sample with Horvitz-Thompson weights — the
    * low-variance alternative to the Bernoulli-style `mixToBudget`
    * rate sampler: per source, exactly `picksPerSource` token-position
    * boundaries are laid at a fixed stride through a DETERMINISTIC
    * pseudo-random document order (the Weyl-hash order `shardAssign`
    * uses), and a document is picked once per boundary its token span
    * covers. Inclusion is proportional-to-size by construction, the
    * per-source hit total is EXACTLY `picksPerSource` (a conservation
    * law the spec pins — systematic sampling's whole point is that
    * the sample size never varies), and the emitted HT weight
    * `(n_hits · total_s · 1e6) div (n_tokens · m)` makes weighted
    * token sums unbiased for the full corpus in exact integer
    * micro-units.
    *
    * Scale shape: one shuffle on the source key for the order window
    * + running token sum; the S-row totals table rides back on a
    * broadcast; the boundary-hit arithmetic is row-local integer
    * floors — no sort of the corpus beyond the per-source window, no
    * pairwise surface. Empty documents can never straddle a boundary
    * and drop out by construction.
    */
  def ppsSystematicSample(df: DataFrame, sourceCol: String, idCol: String,
                          textCol: String, picksPerSource: Int): DataFrame = {
    require(picksPerSource > 0, "ppsSystematicSample: picks must be positive")
    for (c <- Seq("__bucket", "__nt", "__cum", "__tot", "__stride",
        "__bhi", "__blo", "n_tokens", "n_hits", "weight_micro")
        if df.columns.contains(c))
      require(false, s"ppsSystematicSample: '$c' is reserved — rename it")
    import org.apache.spark.sql.expressions.Window
    val denom = 65536L
    val m = picksPerSource.toLong
    val ord = Window.partitionBy(col(sourceCol))
      .orderBy(col("__bucket").asc, col(idCol).asc)
    val base = df.select(col(sourceCol), col(idCol),
        pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom)).as("__bucket"),
        size(split(col(textCol), " ")).cast("long").as("__nt"))
      .filter(col("__nt") > 0L)
    val totals = base.groupBy(col(sourceCol))
      .agg(sum("__nt").as("__tot"))
      .withColumn("__stride", expr(s"__tot div ${m}L"))
    val cum = base
      .withColumn("__cum", sum(col("__nt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), sourceCol)
    // a source with fewer tokens than picks has stride 0 — fail LOUD,
    // an oversampled source is a caller error, not a silent clamp
    cum.withColumn("__stride",
        when(col("__stride") <= 0L, expr(
          s"raise_error('ppsSystematicSample: a source has fewer than $picksPerSource tokens')"))
          .otherwise(col("__stride")))
      // boundaries sit at token positions j·stride, j = 0..m-1; the doc
      // spans [cum - nt, cum); hits = boundaries inside the span,
      // capped at index m-1 (stride·m may undershoot the total by the
      // division remainder — the tail past the last boundary is simply
      // never sampled, which is what keeps the count exact)
      .withColumn("__bhi", least(expr("(__cum - 1L) div __stride"), lit(m - 1L)))
      .withColumn("__blo", when(col("__cum") === col("__nt"), lit(-1L))
        .otherwise(least(expr("(__cum - __nt - 1L) div __stride"), lit(m - 1L))))
      .withColumn("n_hits", col("__bhi") - col("__blo"))
      .filter(col("n_hits") > 0L)
      // DECIMAL(38,0) keeps n_hits·total·1e6 exact past int64 (a
      // 100 TB source's token mass ×1e6 overflows a long)
      .withColumn("weight_micro", expr(
        s"""(CAST(n_hits AS DECIMAL(38,0)) * CAST(__tot AS DECIMAL(38,0)) * 1000000)
           | div (CAST(__nt AS DECIMAL(38,0)) * ${m})""".stripMargin))
      .select(col(sourceCol), col(idCol), col("__nt").as("n_tokens"),
        col("n_hits"), col("weight_micro"))
  }

  /** Release-to-release manifest reconciliation — the integrity check
    * a publication pipeline runs BEFORE shipping a refresh: which
    * shards changed, appeared, or vanished between two
    * `releaseManifest` ledgers, without touching the corpus at all.
    * Shard-count rows in, shard-count rows out — one full-outer
    * equi-join on the shard id (the snapshotDiff convention: every
    * shard surfaces with a status, `unchanged` included, and missing
    * sides carry -1 sentinels, never NULLs). `changed` compares the
    * WHOLE ledger row — checksum, doc count, byte volume, id range —
    * so a count-preserving content edit and a checksum-colliding
    * add/remove pair both still trip on the other fields.
    */
  def manifestDiff(oldManifest: DataFrame, newManifest: DataFrame): DataFrame = {
    val cols = Seq("n_docs", "n_bytes", "id_min", "id_max", "checksum")
    val o = oldManifest.select(col("shard") +: cols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newManifest.select(col("shard") +: cols.map(c => col(c).as(s"__n_$c")): _*)
    val anyDiff = cols.map(c => col(s"__o_$c") =!= col(s"__n_$c"))
      .reduce(_ || _)
    o.join(n, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("__o_checksum").isNull, lit("added"))
          .when(col("__n_checksum").isNull, lit("removed"))
          .when(anyDiff, lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("__o_n_docs"), lit(-1L)).as("n_docs_old"),
        coalesce(col("__n_n_docs"), lit(-1L)).as("n_docs_new"),
        coalesce(col("__o_n_bytes"), lit(-1L)).as("n_bytes_old"),
        coalesce(col("__n_n_bytes"), lit(-1L)).as("n_bytes_new"))
  }

  def releaseManifest(df: DataFrame, idCol: String, textCol: String,
                      nShards: Int): DataFrame = {
    require(nShards > 0, "releaseManifest: nShards must be positive")
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    df.select(col(idCol),
        pmod(bucket, lit(nShards.toLong)).cast("int").as("shard"),
        octet_length(col(textCol)).cast("long").as("__bytes"),
        md5(concat(col(idCol).cast("string"), lit("|"), col(textCol))).as("__h"))
      .withColumn("__d", expr(
        "aggregate(sequence(1, 32), 0L, (acc, i) -> acc + ascii(substring(__h, i, 1)) * i * i)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__bytes")).as("n_bytes"),
        min(col(idCol)).as("id_min"),
        max(col(idCol)).as("id_max"),
        sum(col("__d")).as("checksum"))
  }

  /** UniMax source mixing (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): allocate a token budget as UNIFORMLY across
    * sources as possible, subject to a per-source repetition cap of
    * `maxEpochs` epochs — the published alternative to temperature
    * sampling (`mixTemperature`) that never over-repeats a small
    * source however extreme the size skew.
    *
    * The allocation is the classic waterfill, computed EXACTLY in
    * integers. Sources sort ascending by cap = total·maxEpochs (source
    * name breaking ties); a source is fully funded iff the even split
    * of what remains at its turn covers its whole cap:
    * funded(i) ⇔ cap_i ≤ (budget − prefix(i−1)) div (n−i+1). With
    * ascending caps the funded set is a prefix, so the whole decision
    * is one window pass over the |sources|-bounded totals table; the
    * division form of the test also keeps every intermediate under
    * int64 without needing cap·m products. Unfunded sources split the
    * remainder by integer div (documented shortfall < n_unfunded
    * tokens — never a hidden renormalization).
    *
    * Because an allocation may exceed a source's size (that is the
    * point — epochs > 1), the per-document output carries `n_copies`:
    * alloc div total full epochs for every document, plus one more for
    * documents picked by the portable Weyl hash at the
    * fractional-epoch threshold (alloc mod total)·65536 div total — an
    * INTEGER bucket bound, so the pick needs no float rate at all.
    * n_copies ≤ maxEpochs by construction ((alloc mod total) = 0
    * whenever alloc = cap); documents with n_copies = 0 are dropped.
    * The ·65536 stays exact while total < 2^63/65536 ≈ 1.4e14 tokens
    * per source — above any single source at the 100 TB design point.
    *
    * Scale shape: one aggregate to the |sources| table, all waterfill
    * arithmetic on that tiny table (the single-partition window is
    * |sources| rows by construction), the alloc row broadcast back —
    * zero corpus shuffles (the mixTemperature contract).
    *
    * Output: (sourceCol, idCol, n_tokens, alloc_tokens, n_copies).
    */
  def mixUniMax(df: DataFrame, sourceCol: String, idCol: String,
                textCol: String, budgetTokens: Long, maxEpochs: Int): DataFrame = {
    require(budgetTokens > 0, "mixUniMax: budgetTokens must be positive")
    require(maxEpochs > 0, "mixUniMax: maxEpochs must be positive")
    for (c <- Seq("__total", "__cap", "__rk", "__n", "__pref", "__funded",
        "__pfund", "__nf", "__n2", "__alloc", "__full", "__fb",
        "n_tokens", "alloc_tokens", "n_copies") if df.columns.contains(c))
      require(false, s"mixUniMax: '$c' is reserved for internal use — rename it")
    import org.apache.spark.sql.expressions.Window
    val withTok = df.select(col(sourceCol), col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val totals = withTok.groupBy(sourceCol)
      .agg(sum("n_tokens").as("__total"))
      // cap = total·maxEpochs; the guard raises a NAMED error before
      // the multiply can overflow int64 (the mixTemperature pattern).
      .withColumn("__cap",
        when(col("__total") > lit(Long.MaxValue / maxEpochs),
          expr("raise_error('mixUniMax: total_tokens * maxEpochs overflows " +
            "int64 — lower maxEpochs')").cast("long"))
          .otherwise(col("__total") * lit(maxEpochs.toLong)))
    val w = Window.orderBy(col("__cap"), col(sourceCol))
    val wAll = Window.partitionBy()
    val ranked = totals
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__pref", sum("__cap").over(w))
      // funded test in division form: nonneg numerator guaranteed by
      // the first conjunct, so trunc-div ≡ floor-div on both engines.
      .withColumn("__funded",
        (lit(budgetTokens) - (col("__pref") - col("__cap")) >= 0) &&
          col("__cap") <= expr(
            s"($budgetTokens - (__pref - __cap)) div (__n - __rk + 1)"))
    val fAgg = ranked.agg(
      coalesce(sum(when(col("__funded"), col("__cap"))), lit(0L)).as("__pfund"),
      coalesce(sum(when(col("__funded"), lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("__nf"),
      count(lit(1)).as("__n2"))
    val alloc = ranked.crossJoin(broadcast(fAgg))
      .withColumn("__alloc",
        when(col("__funded"), col("__cap"))
          .otherwise(expr(s"($budgetTokens - __pfund) div (__n2 - __nf)")))
      .select(col(sourceCol), col("__total"), col("__alloc"))
    val denom = 65536L
    val bucket = pmod(pmod(col(idCol), lit(denom)) * lit(40503L), lit(denom))
    withTok.join(broadcast(alloc), Seq(sourceCol))
      .withColumn("__full", expr("__alloc div __total"))
      .withColumn("__fb", expr(s"((__alloc % __total) * $denom) div __total"))
      .withColumn("n_copies",
        col("__full") + when(bucket < col("__fb"), lit(1L)).otherwise(lit(0L)))
      .where(col("n_copies") > 0)
      .select(col(sourceCol), col(idCol), col("n_tokens"),
        col("__alloc").as("alloc_tokens"), col("n_copies"))
  }

  /** Neyman (optimal) allocation for stratified sampling (Neyman
    * 1934) — the VARIANCE-aware counterpart of the proportional
    * `stratifiedSample`: a fixed label/eval budget splits across
    * strata ∝ N_h·σ_h, putting labelers where the data varies instead
    * of where it is merely plentiful. Exact where it matters:
    * N_h·σ_h = √(n_h·Σv² − S_h²) of exact DECIMAL integer moments
    * (the spearman d-term), ONE correctly-rounded IEEE sqrt per
    * stratum micro-floored into w_micro; the budget splits by the
    * LARGEST-REMAINDER method — base = budget·w div Σw, the leftover
    * (≤ strata − 1 by construction) goes to the largest remainders,
    * (remainder DESC, key ASC) tie-break — so Σalloc = budget EXACTLY
    * when no cap binds. alloc caps at n_h with the shortfall REPORTED,
    * never silently redistributed (a second Neyman pass over the
    * survivors is the caller's explicit decision). A zero-variance
    * stratum has w = 0 and draws nothing (textbook Neyman); ALL
    * strata constant → Σw = 0 → NULL allocations (undefined — the
    * proportional sampler is the right tool, the kappa convention).
    *
    * Scale shape: one per-stratum moment collapse (the corpus's only
    * shuffle), then rank/sum windows on the bounded strata table —
    * single partition BY CONTRACT, the prCurve spine class.
    */
  def neymanAllocation(df: DataFrame, keyCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0L, s"neymanAllocation: budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val strata = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol),
        expr(s"CAST(floor($valueCol * 1000) AS BIGINT)").as("v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("__s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("__q"))
      .withColumn("w_micro", expr(
        """CAST(floor(1000000.0 *
          |  sqrt(CAST(n * __q - __s * __s AS DOUBLE))) AS BIGINT)""".stripMargin))
    val all = Window.partitionBy(lit(1))
    val rk = Window.partitionBy(lit(1))
      .orderBy(col("__rem").desc, col(keyCol).asc)
    strata
      .withColumn("__wsum", sum("w_micro").over(all))
      // budget·w_micro brushes int64 (w ~ 1e15 at 100k-row strata) —
      // DECIMAL(38,0) ≡ HUGEINT headroom, cast back after the div
      .withColumn("__base", expr(
        s"""CASE WHEN __wsum = 0 THEN NULL ELSE
           |CAST((CAST(${budget}L AS DECIMAL(38,0)) * w_micro)
           |  div __wsum AS BIGINT) END""".stripMargin))
      .withColumn("__rem", expr(
        s"""CASE WHEN __wsum = 0 THEN NULL ELSE
           |CAST((CAST(${budget}L AS DECIMAL(38,0)) * w_micro)
           |  % __wsum AS BIGINT) END""".stripMargin))
      .withColumn("__left", lit(budget) - sum("__base").over(all))
      .withColumn("__rk", row_number().over(rk).cast("long"))
      .withColumn("__a",
        col("__base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
      .select(col(keyCol), col("n"), col("w_micro"),
        // least/greatest IGNORE NULLs — propagate the Σw=0 undefined
        // case explicitly, never a fabricated allocation
        when(col("__a").isNotNull, least(col("__a"), col("n")))
          .as("alloc"),
        when(col("__a").isNotNull,
          greatest(col("__a") - col("n"), lit(0L))).as("shortfall"))
  }

  /** Preference-pair construction — the DPO/RLHF data-prep step: per
    * group (prompt, topic, source), pair the HIGHEST-scored member as
    * `chosen` against the LOWEST-scored as `rejected`, with the score
    * margin as the pair's training weight signal. Deterministic
    * end to end: (score DESC, id ASC) picks chosen, (score ASC,
    * id ASC) picks rejected — ties go to the lowest id on both sides.
    * EVERY group emits one row (loud, never silent): `usable` is
    * false when the margin is under `minMarginMicro` OR the group
    * degenerates (one row, or all-equal scores where both picks land
    * on the same id) — the caller filters on it, the audit reads the
    * rest. Scores are integer micro-units BY CONVENTION (any
    * monotone integer scale works — only order and differences
    * enter).
    *
    * Scale shape: two rank windows sharing one per-group Exchange,
    * then a 1-row-per-group aggregate — the trimmedMean class.
    */
  def preferencePairs(df: DataFrame, groupCol: String, idCol: String,
                      scoreCol: String, minMarginMicro: Long): DataFrame = {
    require(minMarginMicro >= 0L,
      s"preferencePairs: minMarginMicro must be >= 0, got $minMarginMicro")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol), col(idCol).as("__id"),
        col(scoreCol).cast("long").as("__s"))
    val byG = Window.partitionBy(col(groupCol))
    base
      .withColumn("__rt", row_number().over(
        byG.orderBy(col("__s").desc, col("__id").asc)))
      .withColumn("__rb", row_number().over(
        byG.orderBy(col("__s").asc, col("__id").asc)))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        min(when(col("__rt") === 1, col("__id"))).as("chosen_id"),
        min(when(col("__rt") === 1, col("__s"))).as("chosen_score"),
        min(when(col("__rb") === 1, col("__id"))).as("rejected_id"),
        min(when(col("__rb") === 1, col("__s"))).as("rejected_score"))
      .withColumn("margin_micro",
        col("chosen_score") - col("rejected_score"))
      .withColumn("usable",
        col("margin_micro") >= minMarginMicro &&
          col("chosen_id") =!= col("rejected_id"))
  }
}
