package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

/** Deduplication operators for the training-data pipeline layer.
  *
  * Four tiers, cheapest first — the standard large-corpus recipe:
  *  1. exact      — content-hash groupBy; one shuffle on the hash.
  *  2. normalized — same, over a canonicalized text form.
  *  3. MinHash-LSH — banded signatures; candidates come ONLY from
  *     band-bucket collisions (never an all-pairs product), then the
  *     few candidates are verified with exact Jaccard.
  *  4. SimHash    — 64-bit sketch; candidate pairs from 16-bit chunk
  *     collisions (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), then
  *     exact hamming verification via bit_count(xor).
  *
  * Scale notes (100 TB): every step is shuffle-on-key + linear work.
  * The only quadratic surface is WITHIN a bucket; band/chunk width
  * controls bucket size, and a hot bucket (boilerplate shingles) is
  * handled by `ngramJaccardPairs(maxPostingLen = ...)`, which caps
  * posting-list length with an audited, logged drop count
  * (`hotPostings` is the audit query).
  */
object Dedup {

  /** Exact duplicate groups: md5 of the raw text. One partial-agg
    * shuffle; the hash (not the text) is the shuffle key, so wide rows
    * don't travel — only (hash, id) pairs do.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized duplicate groups: lowercase, collapse whitespace,
    * drop the given stop tokens, then hash. Catches trivially-edited
    * copies exact dedup misses.
    */
  def normalizedGroups(df: DataFrame, idCol: String, textCol: String,
                       dropTokens: Seq[String]): DataFrame =
    // typedLit array, not a spliced '$t' NOT-IN list: a stop token
    // containing a quote must not be able to break the expression parse
    df.withColumn("__toks", split(lower(regexp_replace(col(textCol), "\\s+", " ")), " "))
      .withColumn("__norm", array_join(
        filter(col("__toks"), t => !array_contains(typedLit(dropTokens), t)), " "))
      .select(md5(col("__norm")).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard similarity over candidate pairs blocked by
    * `blockCol` (a language/source/bucket key that bounds the pair
    * count). This is the ORACLE-CHECKABLE exact tier; MinHash-LSH
    * below is the same semantics with sub-quadratic candidates and is
    * the 100 TB path.
    *
    * An inverted-index set-similarity join: `coOccurrence` counts
    * |A∩B| per pair over `postingsOf`, the Jaccard size prefilter
    * (`sizeBound`) rides in its join condition, and `jaccardOf` scores
    * it. Output is identical to the naive all-pairs join (LlmDedupSpec
    * pins this against an in-memory brute force). `maxPostingLen` drops
    * hot postings from one join side (`capHot`): capped output may
    * under-count, and `hotPostings` names exactly what was dropped.
    * `ngramJaccardPairsPrefix` is the output-equal arm for corpora with
    * selective grams.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double,
                        maxPostingLen: Option[Int] = None): DataFrame = {
    val (a, b) = capHot(df, idCol, textCol, blockCol, n, maxPostingLen)
    jaccardOf(coOccurrence(a, b, Seq(blockCol, "gram"), idCol, "sz", "isz",
      sizeBound(threshold)), threshold)
  }

  /** Asymmetric near-dup: n-gram CONTAINMENT pairs. Jaccard misses a
    * small document lifted wholesale into a much larger one (the
    * union denominator swamps the intersection); containment scores
    * |A∩B| / min(|A|,|B|), so a fully-embedded small doc scores 1.0
    * regardless of the host's size. The same `coOccurrence` count and
    * `capHot` valve as `ngramJaccardPairs`, scored by `containmentOf`,
    * MINUS the size prefilter — a size ratio is exactly what
    * containment must not prune on, which makes the cap matter more
    * here. At passage granularity the winnowing index
    * (`fingerprintPairs`) is the sub-quadratic arm of the same question.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, n: Int, threshold: Double,
                            maxPostingLen: Option[Int] = None): DataFrame = {
    require(threshold > 0.0, "ngramContainmentPairs: threshold must be > 0")
    val (a, b) = capHot(df, idCol, textCol, blockCol, n, maxPostingLen)
    containmentOf(coOccurrence(a, b, Seq(blockCol, "gram"), idCol, "sz", "shared"),
      threshold)
  }

  /** Sub-quadratic arm of `ngramContainmentPairs` — the asymmetric
    * prefix filter. Containment's denominator is min(|A|,|B|), so a
    * symmetric size prefilter is forbidden, but a PREFIX filter on the
    * SMALLER set is still sound: for any pair with containment ≥ t the
    * shared-gram count is an integer ≥ ⌈t·|S|⌉ where S is the smaller
    * set — strictly more than S's suffix holds — so the other document
    * must hit S's `prefixPostings` (pigeonhole). Candidates therefore
    * come from joining every document's own prefix postings against
    * FULL postings of documents at least as large (`s.sz <= o.sz` keeps
    * s on the min side; ties probe both directions and dedup), and the
    * exact verify over `gramSets` (`withSets`, `containmentOf`) makes
    * output identical to the standard arm, so it carries the same
    * DuckDB oracle verbatim.
    *
    * Cost trade mirrors `ngramJaccardPairsPrefix`: candidate volume is
    * Σ_gram (prefix_f × full_f) instead of Σ_gram f²; on the fixture's
    * 31-word vocabulary every gram is common and the standard arm wins.
    */
  def ngramContainmentPairsBanded(df: DataFrame, idCol: String, textCol: String,
                                  blockCol: String, n: Int,
                                  threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "ngramContainmentPairsBanded: threshold must be in (0, 1]")
    val postings = postingsOf(df, idCol, textCol, blockCol, n, spread = false)
    val s = prefixPostings(postings, idCol, blockCol, threshold).as("s")
    val o = postings.as("o")
    val candidates = s.join(o,
        col(s"s.$blockCol") === col(s"o.$blockCol") &&
          col("s.gram") === col("o.gram") &&
          col(s"s.$idCol") =!= col(s"o.$idCol") &&
          col("s.sz") <= col("o.sz"))
      .select(least(col(s"s.$idCol"), col(s"o.$idCol")).as("id_a"),
        greatest(col(s"s.$idCol"), col(s"o.$idCol")).as("id_b"))
      .distinct()
    containmentOf(withSets(candidates, gramSets(df.filter(col(blockCol).isNotNull),
        textCol, n, idCol))
      .withColumn("shared", size(array_intersect(col("ga"), col("gb"))).cast("long")),
      threshold)
  }

  /** PPJoin-style prefix-filtered exact Jaccard join — the selective-
    * vocabulary arm of `ngramJaccardPairs`.
    *
    * Each document indexes only its `prefixPostings`. Two documents
    * with Jaccard ≥ t must share a prefix gram under ANY shared total
    * order (pigeonhole on the ⌈t·|grams|⌉-sized suffixes), so
    * candidates from prefix-posting collisions are COMPLETE, and the
    * exact verify over `gramSets` (`withSets`, `jaccardOf`) makes
    * output identical to the standard arm — same integer
    * intersect/union sizes, same one-divide double, so it carries the
    * same DuckDB oracle.
    *
    * Cost trade vs the standard arm: candidate volume is Σ f² over
    * PREFIX postings only — on corpora with selective grams the rare
    * prefix grams have tiny posting lists and the quadratic surface
    * collapses; the price is per-candidate array materialization +
    * intersection instead of the count-only aggregation. On this
    * repo's adversarial 31-word-vocabulary fixture every gram is common
    * and the standard arm wins: 1.4M of 2.3M pairs survived the prefix
    * filter, and the saved co-occurrences did not pay for the array
    * verify. The crossover is gated by output-equality in LlmDedupSpec
    * on a generated realistic-vocabulary corpus.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, n: Int,
                              threshold: Double): DataFrame = {
    val prefix = prefixPostings(
      postingsOf(df, idCol, textCol, blockCol, n, spread = false), idCol, blockCol, threshold)
    val a = prefix.as("a")
    val b = prefix.as("b")
    val candidates = a.join(b,
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.gram") === col("b.gram") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          sizeBound(threshold))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    jaccardOf(withSets(candidates, gramSets(df.filter(col(blockCol).isNotNull),
        textCol, n, idCol))
      .withColumn("isz", size(array_intersect(col("ga"), col("gb")))), threshold)
  }

  /** Audit for the `maxPostingLen` cap: every (block, gram) posting
    * list longer than the cap, with its length — exactly the postings
    * a capped `ngramJaccardPairs` run excludes from the join (both are
    * derived from the same `postingsOf` frame). Empty ⟺ the capped
    * result is identical to the uncapped one.
    */
  def hotPostings(df: DataFrame, idCol: String, textCol: String,
                  blockCol: String, n: Int, maxPostingLen: Int): DataFrame =
    postingsOf(df, idCol, textCol, blockCol, n)
      .groupBy(col(blockCol), col("gram"))
      .agg(count(lit(1)).as("posting_len"))
      .filter(col("posting_len") > maxPostingLen)

  /** The exploded (id, block, |grams|, gram) posting frame the exact
    * tier and the hot-gram audit are built from — shared so the audit
    * can never drift from what the capped join actually drops.
    */
  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
                         blockCol: String, n: Int,
                         spread: Boolean = true): DataFrame = {
    // null-block rows can never equi-join on (block, gram) — drop them
    // before the gram explode instead of shipping dead postings.
    // repartition FIRST (spread): a small parquet arrives as ONE
    // partition and the tokenize/ngram lambdas below are per-row
    // interpreted HOFs — without the spread they run single-core ahead
    // of every consumer (measured: -6 s on q_ngram_jaccard at sf0.1).
    // The prefix arms opt OUT: their freq-join/window/self-join DAG
    // re-plans around the extra exchange and regresses ~2.5× (measured)
    val src = df.filter(col(blockCol).isNotNull)
    explodeNonEmpty(gramSets(if (spread) src.repartition(col(idCol)) else src,
        textCol, n, idCol, blockCol),
      "grams", "gram", col(idCol), col(blockCol), col("sz"))
  }

  /** Each document's distinct n-gram array `grams` and its size `sz`,
    * beside the `keys` columns. `sz` is wrapped NON-NULLABLE
    * (coalesce) because a downstream size or score filter infers
    * isnotnull(sz), and pushdown re-substitutes size(ngrams(...)) at
    * the scan below the repartition, evaluating the interpreted ngram
    * expression a second time, single-core. A null-text row (the only
    * way sz could be null) carries no grams, so the -1 sentinel never
    * pairs.
    */
  private def gramSets(df: DataFrame, textCol: String, n: Int, keys: String*): DataFrame =
    df.withColumn("__toks", TextOps.tokens(textCol))
      .select(keys.map(col) :+ TextOps.ngrams("__toks", n).as("grams"): _*)
      .withColumn("sz", coalesce(size(col("grams")), lit(-1)))

  /** One row per non-null element of the array column `arr`, named
    * `as`, beside the `keep` columns. explode_outer + isNotNull, NOT
    * explode: a plain explode makes the optimizer infer `size(arr) > 0`,
    * and predicate pushdown re-substitutes the array's expression at the
    * parquet scan BELOW the repartition — the whole interpreted ngram
    * or hash chain then evaluates twice, the first time single-core in
    * the lone input partition (measured: 4.5 s of q_hot_postings' 4.8 s,
    * 16 s of q_fingerprint_pairs' 17 s). The outer variant infers no
    * filter; the cheap isNotNull drops the rows explode would have.
    */
  private def explodeNonEmpty(df: DataFrame, arr: String, as: String,
                              keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(col(arr)).as(as): _*)
      .filter(col(as).isNotNull)

  /** `df` with its token array as `__toks`, keeping rows of at least
    * `k` tokens. Gate on the TOKEN count, never on the size of an array
    * derived from the tokens: n-grams and k-windows are empty iff
    * tokens < k, and a size(derived) filter is pushdown-re-substituted
    * at the scan below the repartition, evaluating the interpreted
    * lambdas a second time, single-core.
    */
  private def withTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.withColumn("__toks", TextOps.tokens(textCol))
      .filter(size(col("__toks")) >= k)

  /** The one-sided hot-gram cap: (side a, side b) of the co-occurrence
    * self-join over `postingsOf`. A (block, gram) posting list of length
    * f contributes f² co-occurrence rows, so one boilerplate shingle at
    * corpus scale stalls the stage; with `maxPostingLen` set, postings
    * hotter than the cap are DROPPED from side a, which loses the
    * intersections they carried, so capped output may under-count. An
    * equi-join co-occurrence row needs the gram on BOTH sides, so
    * removing hot grams from side a alone kills exactly the same pairs
    * as filtering both — and the self-join then evaluates the
    * (postings + hot-agg) subtree once, not twice (measured: two-sided
    * capping cost MORE than it saved on the fixture; one-sided is ~2×
    * cheaper than uncapped). The hot list stays a DataFrame anti-join
    * side (a |postings|/cap-bounded aggregate): at 100 TB it can be
    * 10⁷-10⁸ rows, which must never collect to the driver, and the lazy
    * plan means CONSTRUCTING a capped query runs no job. The drop is
    * never silent: `hotPostings` is the audit (same `postingsOf`
    * subtree), run as q_hot_postings beside q_ngram_jaccard_capped.
    */
  private def capHot(df: DataFrame, idCol: String, textCol: String,
                     blockCol: String, n: Int,
                     maxPostingLen: Option[Int]): (DataFrame, DataFrame) = {
    val all = postingsOf(df, idCol, textCol, blockCol, n)
    val a = maxPostingLen.fold(all) { cap =>
      all.join(hotPostings(df, idCol, textCol, blockCol, n, cap)
        .select(col(blockCol), col("gram")), Seq(blockCol, "gram"), "left_anti")
    }
    (a, all)
  }

  /** The co-occurrence kernel: pairs (`id_a` < `id_b`) of `a` and `b`
    * rows equal on every `keys` column and on `preds`, with the count
    * of shared keys as `countAs` and each side's `sizeCol` as
    * `<sizeCol>a` / `<sizeCol>b`. Over postings this is |A∩B| per pair
    * with no per-pair array materialization or set operation at all;
    * parallelism scales with key cardinality, not the handful of block
    * values.
    *
    * Scale notes: the row count is Σ_key f² — hot boilerplate keys are
    * the risk (`capHot`); AQE skew-join splitting absorbs moderate skew.
    * Swapping the gram string for xxhash64(gram) as the key does NOT
    * move q_ngram_jaccard — the cost is the Σf² row count, not key
    * width — so the exact tier keeps collision-free string identity.
    */
  private def coOccurrence(a: DataFrame, b: DataFrame, keys: Seq[String],
                           idCol: String, sizeCol: String, countAs: String,
                           preds: Column*): DataFrame =
    a.as("a").join(b.as("b"),
        ((keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
          (col(s"a.$idCol") < col(s"b.$idCol"))) ++ preds).reduce(_ && _))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$sizeCol").as(s"${sizeCol}a"), col(s"b.$sizeCol").as(s"${sizeCol}b"))
      .agg(count(lit(1)).as(countAs))

  /** The Jaccard size prefilter over the `a`/`b` sides of a postings
    * join: jaccard ≥ t ⇒ min|set| ≥ t·max|set|.
    */
  private def sizeBound(threshold: Double): Column =
    least(col("a.sz"), col("b.sz")).cast("double") >=
      greatest(col("a.sz"), col("b.sz")).cast("double") * threshold

  /** The rarest-first prefix of every document's postings: grams
    * ordered by one global total order (document frequency per block,
    * gram string as the tie-break), first |grams| - ⌈t·|grams|⌉ + 1
    * kept — the pigeonhole bound both prefix arms rest on.
    */
  private def prefixPostings(postings: DataFrame, idCol: String, blockCol: String,
                             threshold: Double): DataFrame = {
    val freq = postings.groupBy(col(blockCol), col("gram"))
      .agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol), col(idCol))
      .orderBy(col("__df"), col("gram"))
    postings.join(freq, Seq(blockCol, "gram"))
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col(blockCol), col("gram"), col(idCol), col("sz"))
  }

  /** The exact verify's two-sided join: each (id_a, id_b) candidate
    * with both documents' `gramSets` as (ga, sza) and (gb, szb).
    */
  private def withSets(candidates: DataFrame, sets: DataFrame): DataFrame =
    candidates
      .join(sets.toDF("id_a", "ga", "sza"), "id_a")
      .join(sets.toDF("id_b", "gb", "szb"), "id_b")

  /** Pairs whose Jaccard |A∩B| / (|A| + |B| - |A∩B|), from the integer
    * sizes `isz`, `sza`, `szb` in one double divide, reaches
    * `threshold` — the formula every exact-Jaccard arm and the MinHash
    * verify share, so they carry the same DuckDB oracle.
    */
  private def jaccardOf(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        (col("isz").cast("double") /
          (col("sza") + col("szb") - col("isz")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Pairs whose containment `shared` / min(`sza`, `szb`) reaches
    * `threshold` — both containment arms' score.
    */
  private def containmentOf(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast("double") /
          least(col("sza"), col("szb")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)

  /** MinHash signature: sig[i] = min over shingles of
    * XXH64(xxhash64(shingle), seed = i). Each shingle string is hashed
    * once in codegen; the numHashes × |shingles| inner loop runs in the
    * compiled `MinHashSigExpr` kernel — as a `transform` lambda it
    * would be that many INTERPRETED boxed calls per row, which
    * dominated the sketch's wall time (graft.functions.Sketches).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int,
                        carryCols: Seq[String] = Nil): DataFrame =
    // sketching is CPU-bound and a small parquet arrives as ONE
    // partition — spread rows before the kernel or it runs one-core
    withTokens(df.repartition(col(idCol)), textCol, shingleN)
      .withColumn("grams", TextOps.ngrams("__toks", shingleN))
      .withColumn("__sh", expr("transform(grams, s -> xxhash64(s))"))
      .select(col(idCol) +: carryCols.map(col) :+ col("grams") :+
        graft.functions.Sketches.minhashSig(col("__sh"), numHashes).as("sig"): _*)

  /** In-bucket ordered pairs: for a SORTED array column, every (l, r)
    * with l before r — the bucket-local pair enumeration both sketch
    * joins use. Quadratic only within a bucket, which is the knob the
    * band/chunk width controls.
    */
  private[llm] def bucketPairs(sortedArrCol: String): String =
    s"""flatten(transform(sequence(1, size($sortedArrCol) - 1),
       |  i -> transform(slice($sortedArrCol, i + 1, size($sortedArrCol) - i),
       |         y -> struct(element_at($sortedArrCol, i) AS l, y AS r))))""".stripMargin

  /** LSH banding: one row per (doc, band) with a hashed band key.
    * Docs sharing any band key are candidate duplicates. With
    * numHashes = bands × rowsPerBand, the match probability is the
    * classic S-curve 1-(1-j^r)^b.
    */
  def lshBands(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
               carryCols: Seq[String] = Nil): DataFrame =
    sigs.select(col(idCol) +: carryCols.map(col) :+ posexplode(expr(
      s"""transform(sequence(0, ${bands - 1}),
         |  j -> xxhash64(concat(cast(j AS string), ':',
         |         cast(slice(sig, j * $rowsPerBand + 1, $rowsPerBand) AS string))))"""
        .stripMargin)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** Banded-LSH near-duplicate pairs, verified with exact Jaccard on
    * the shingle sets — the exact arms' `gramSets`, `withSets` and
    * `jaccardOf`. Candidates come only from band collisions — the join
    * is on (band, band_key), never a cross product.
    *
    * `blockCol` optionally restricts pairs to a shared block (the same
    * language/source blocking the exact tier uses): the block value
    * joins the band bucket key, so blocking NARROWS buckets — at
    * corpus scale it's free selectivity, not an extra join.
    *
    * NULL blocks never pair: the exact arm's equi-join on `blockCol`
    * can't match NULL against NULL, so a null-block document there is
    * silently pair-less — whereas a groupBy bucket key treats NULLs as
    * EQUAL and would pair them. The arms are documented as
    * interchangeable, so the scale arm mirrors the equi-join semantics
    * by dropping null-block rows before sketching (also saves their
    * kernel work). Gated in LlmDedupSpec ("null blocks never pair").
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 64,
                      bands: Int = 16, shingleN: Int = 2,
                      blockCol: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // candidates: groupBy band bucket + in-bucket pair explode — ONE
    // pass over the signature pipeline. (A bandRows self-join reads
    // the un-materialized signature DAG once per join side; at sf0.1
    // that recompute was 4× the useful work.)
    val carry = blockCol.toSeq
    val src = blockCol.fold(df)(b => df.filter(col(b).isNotNull))
    val sigs = minhashSignatures(src, idCol, textCol, numHashes, shingleN, carry)
    val bandRows = lshBands(sigs.select((col(idCol) +: carry.map(col) :+ col("sig")): _*),
      idCol, bands, numHashes / bands, carry)
    val candidates = bandRows
      .groupBy(("band" +: "band_key" +: carry).map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(bucketPairs("ids"))).as("p"))
      .select(col("p.l").as("id_a"), col("p.r").as("id_b"))
      .distinct()
    // verification recomputes only the shingle sets (cheap), not the
    // 64-hash signatures. (r18: checkpointing the sets was MEASURED A
    // REGRESSION — 1.07 s -> 1.47 s — the blocking materialization of
    // the gram arrays costs more than the two re-derivations it saves;
    // the lazy twin-join stays.)
    jaccardOf(withSets(candidates, gramSets(df, textCol, shingleN, idCol))
      .withColumn("isz", size(array_intersect(col("ga"), col("gb")))), threshold)
  }

  /** Persisted MinHash-LSH signature index: signatures + band rows +
    * a 1-row parameter table. The `buildLexIndex`/`updateLexIndex`
    * pattern applied to the NEAR-DUP arm — sketch the corpus once,
    * then every daily-crawl batch probes and maintains the store at
    * touched-data cost. Because a document's signature depends on
    * NOTHING but its own text (unlike df in the lexical index), the
    * incremental update is bit-equal to a full rebuild by
    * construction — anti-join the removed ids, union the added docs'
    * fresh rows — and the spec gates that equality end-to-end.
    */
  case class MinhashIndex(sigs: DataFrame, bands: DataFrame, meta: DataFrame)

  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, nBands: Int = 16,
                        shingleN: Int = 2): MinhashIndex = {
    require(numHashes % nBands == 0, "numHashes must divide into bands")
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleN)
      .select(col(idCol), col("sig"))
    val bandRows = lshBands(sigs, idCol, nBands, numHashes / nBands)
      .select(col(idCol), col("band"), col("band_key"))
    val meta = Seq((numHashes, nBands, shingleN))
      .toDF("num_hashes", "bands", "shingle_n")
    MinhashIndex(sigs, bandRows, meta)
  }

  /** Probe incoming docs against the stored corpus: band-collision
    * candidates (an equi-join on (band, band_key) — parallelism scales
    * with bucket cardinality, never an all-pairs product), then each
    * candidate scored by the SIGNATURE-estimated Jaccard — the
    * unbiased matching-components estimator, in exact integer
    * micro-units (matches·1e6 div numHashes) so reruns and engines
    * agree bit-for-bit. The estimator (not true Jaccard) is the
    * honest incremental choice: the store keeps 64·8 B per doc, never
    * the text — at 100 TB the index is ~0.1% of the corpus and the
    * probe touches only the batch's bands. The batch-twin gate:
    * candidates equal a full `lshBands` run on the union restricted
    * to new↔old pairs (spec-gated), and `minhashEstimate` tracking of
    * true Jaccard is gated separately on controlled documents.
    */
  def minhashProbe(idx: MinhashIndex, incoming: DataFrame,
                   idCol: String, textCol: String,
                   thresholdMicro: Long): DataFrame = {
    val m = idx.meta.head() // bounded 1-row parameter table
    val (nh, nb, sn) = (m.getInt(0), m.getInt(1), m.getInt(2))
    val inSigs = minhashSignatures(incoming, idCol, textCol, nh, sn)
      .select(col(idCol), col("sig"))
    val inBands = lshBands(inSigs, idCol, nb, nh / nb)
    val cands = inBands
      .select(col(idCol).as("id_new"), col("band"), col("band_key"))
      .join(idx.bands.select(col(idCol).as("id_old"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
    cands
      .join(inSigs.select(col(idCol).as("id_new"), col("sig").as("__sn")),
        Seq("id_new"))
      .join(idx.sigs.select(col(idCol).as("id_old"), col("sig").as("__so")),
        Seq("id_old"))
      .withColumn("matches", expr(
        "aggregate(zip_with(__sn, __so, (a, b) -> CASE WHEN a = b THEN 1L ELSE 0L END), 0L, (acc, x) -> acc + x)"))
      .withColumn("est_micro", expr(s"(matches * 1000000L) div ${nh}L"))
      .filter(col("est_micro") >= thresholdMicro)
      .select(col("id_new"), col("id_old"), col("est_micro"))
  }

  /** Apply a snapshot diff to the index: `removedIds` = removed +
    * changed ids, `addedDocs` = added + changed docs (the
    * `snapshotDiff` ledger's convention, same as `updateLexIndex`).
    * Touched-data cost, full-rebuild result — bit-equal because
    * signatures are row-local (spec-gated on all three tables AND a
    * probe through the updated index).
    */
  def updateMinhashIndex(idx: MinhashIndex, removedIds: DataFrame,
                         addedDocs: DataFrame, idCol: String,
                         textCol: String): MinhashIndex = {
    require(removedIds.columns.toSeq == Seq(idCol),
      s"updateMinhashIndex: removedIds must be exactly ($idCol)")
    val m = idx.meta.head()
    val rem = removedIds.distinct()
    val add = buildMinhashIndex(addedDocs, idCol, textCol,
      m.getInt(0), m.getInt(1), m.getInt(2))
    MinhashIndex(
      idx.sigs.join(rem, Seq(idCol), "left_anti").unionByName(add.sigs),
      idx.bands.join(rem, Seq(idCol), "left_anti").unionByName(add.bands),
      idx.meta)
  }

  /** Write the index: band rows clustered on `band_key` so a probe's
    * bucket join prunes row groups (the postings-layout reasoning of
    * `saveLexIndex`); signatures id-clustered for the verify join.
    */
  def saveMinhashIndex(idx: MinhashIndex, idCol: String, dir: String): Unit = {
    idx.bands.repartition(col("band_key")).sortWithinPartitions("band_key")
      .write.mode("overwrite").parquet(dir + "/bands")
    idx.sigs.repartition(col(idCol)).sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(dir + "/sigs")
    idx.meta.write.mode("overwrite").parquet(dir + "/meta")
  }

  /** Load a saved index; LOUD on an unexpected schema — a stale or
    * foreign directory must not probe silently wrong.
    */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       idCol: String, dir: String): MinhashIndex = {
    val s = spark.read.parquet(dir + "/sigs")
    val b = spark.read.parquet(dir + "/bands")
    val m = spark.read.parquet(dir + "/meta")
    require(s.columns.toSeq == Seq(idCol, "sig"),
      s"loadMinhashIndex: unexpected sigs schema ${s.columns.mkString(",")}")
    require(b.columns.toSeq == Seq(idCol, "band", "band_key"),
      s"loadMinhashIndex: unexpected bands schema ${b.columns.mkString(",")}")
    require(m.columns.toSeq == Seq("num_hashes", "bands", "shingle_n"),
      s"loadMinhashIndex: unexpected meta schema ${m.columns.mkString(",")}")
    MinhashIndex(s, b, m)
  }

  /** Shared-passage pairs (winnowing-style containment): two documents
    * pair when they share at least `minShared` distinct w-token
    * windows — the copied-paragraph detector that set-similarity
    * misses (a lifted passage inside an otherwise different document
    * barely moves bigram Jaccard, but every one of its w-token windows
    * collides exactly).
    *
    * Window hashes are the same portable polynomial chain as
    * `TextOps.fingerprint` (token hash mod P, then a second-level
    * poly over each w-window), so the whole operator is
    * DuckDB-oracle-checkable. The join is the exact tier's
    * `coOccurrence` keyed on the window hash — w-token windows are
    * near-unique at any realistic vocabulary, so posting lists stay
    * tiny and the join never approaches the bigram tier's Σf²;
    * `containment` = shared / min(|windows|) is the classic
    * plagiarism score.
    */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                       w: Int, minShared: Int = 1): DataFrame = {
    require(w >= 2, "fingerprintPairs: window must span at least 2 tokens")
    val hashed = withTokens(df.repartition(col(idCol)), textCol, w)
      .withColumn("__th", TextOps.tokenHashes("__toks"))
      .select(col(idCol),
        array_distinct(TextOps.windowHashes("__th", w)).as("wh"))
      .withColumn("nw", coalesce(size(col("wh")), lit(-1)))
    // r19 (guide §5): same posting-frame checkpoint as
    // substringSpans — the self-join re-ran the tokenize + hash
    // chain per side: 1.63 -> 0.95 s same-JVM min-of-3,
    // exceptAll-equal.
    val windows = explodeNonEmpty(hashed, "wh", "h", col(idCol), col("nw"))
      .localCheckpoint()
    coOccurrence(windows, windows, Seq("h"), idCol, "nw", "shared")
      .filter(col("shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast("double") /
          least(col("nwa"), col("nwb")).cast("double")).as("containment"))
  }

  /** Exact substring (suffix-grouping) dedup: every MAXIMAL verbatim
    * token span of length ≥ `k` shared between two documents, with
    * both start positions — the question the set-similarity tiers
    * (Jaccard/containment) and the window-count tier
    * (`fingerprintPairs`) only approximate. This is the distributed
    * re-expression of suffix-array training-data dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better"): a suffix array's duplicate detection reduces to
    * grouping equal fixed-length windows and merging overlapping
    * runs, and both steps are plain relational algebra.
    *
    * Shape: (1) every k-token window emits (id, pos, window-hash) —
    * row-local explode, the `fingerprintPairs` chain with POSITIONS
    * kept; (2) cross-doc anchors come from an inverted-index
    * equi-join on the window hash (k-token windows are near-unique,
    * so posting lists stay tiny — never Σf²-shaped); (3) a shared
    * span of length L ≥ k is exactly a run of L-k+1 consecutive
    * anchors on one DIAGONAL (pos_b - pos_a constant), so a
    * gaps-and-islands window per (id_a, id_b, diag) merges anchors
    * into maximal spans — one shuffle on the pair key; (4) each span
    * is verified VERBATIM by comparing the actual token slices, so a
    * window-hash collision (the chain is mod ~2^30; birthday pairs
    * exist at corpus scale) can never emit a false span. One-sided
    * residual: a collision landing adjacent to a true run on the
    * same diagonal would extend the island and fail the whole span's
    * verification (~2/P per true span) — false spans are impossible,
    * a dropped true span is astronomically unlikely.
    *
    * Verification ships token arrays only for documents that appear
    * in some span (left-semi on the span ids first — span-bearing
    * docs are rare at corpus scale, so the corpus never shuffles its
    * text for docs with nothing to verify).
    *
    * Output: (id_a, id_b, pos_a, pos_b, span_tokens), positions
    * 0-based token offsets, one row per maximal verified span.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, checkpointWindows: Boolean = false): DataFrame = {
    require(k >= 2, "substringSpans: spans must be at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val windows0 = withTokens(df.repartition(col(idCol)), textCol, k)
      .withColumn("__th", TextOps.tokenHashes("__toks"))
      .select(col(idCol), posexplode(TextOps.windowHashes("__th", k)))
      .withColumnRenamed("pos", "pos0").withColumnRenamed("col", "h")
    // r19 (guide §5): the self-join below reads this frame once per
    // side, re-running the tokenize + rolling-hash chain. STANDALONE
    // the checkpoint of the narrow (id, pos0, h) rows wins 2x (2.47 ->
    // 1.17 s; spanDedup 2.65 -> 1.43 s — same-JVM min-of-3,
    // exceptAll-equal), but EMBEDDED in the persist-fanned layout
    // chains the SAME checkpoint measured a 2x REGRESSION
    // (q_training_layout composition 1.57 -> 3.34 s same-JVM) — so it
    // is per-callsite: the standalone span queries opt in, the layout
    // chains keep the lazy twin-derivation.
    val windows = if (checkpointWindows) windows0.localCheckpoint() else windows0
    val a = windows.as("a")
    val b = windows.as("b")
    val anchors = a.join(b, col("a.h") === col("b.h") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.pos0").as("pos_a"), col("b.pos0").as("pos_b"))
      .withColumn("diag", col("pos_b") - col("pos_a"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    val spans = anchors
      .withColumn("__grp", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__grp"))
      .agg(min(col("pos_a")).as("pos_a"), min(col("pos_b")).as("pos_b"),
        (count(lit(1)) + lit(k - 1)).as("span_tokens"))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"),
        col("span_tokens"))
    val toksOf = df.select(col(idCol), TextOps.tokens(textCol).as("__t"))
    val ids = spans.select(col("id_a").as(idCol))
      .union(spans.select(col("id_b").as(idCol))).distinct()
    val needed = toksOf.join(ids, Seq(idCol), "left_semi")
    spans
      .join(needed.toDF("id_a", "__ta"), "id_a")
      .join(needed.toDF("id_b", "__tb"), "id_b")
      .filter(expr("slice(__ta, pos_a + 1, cast(span_tokens as int)) = " +
        "slice(__tb, pos_b + 1, cast(span_tokens as int))"))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"),
        col("span_tokens"))
  }

  /** Cross-document substring-span REMOVAL — the transform twin of
    * `substringSpans` (detect → remove, the same pairing the intra-doc
    * operators L-21/L-65 demonstrate): every verified verbatim span of
    * ≥ `k` tokens shared between two documents is cut from the
    * HIGHER-id document (keep-first by doc id — the canonical Lee et
    * al. 2022 policy restated on ids instead of corpus offsets), so
    * exactly one copy of every lifted passage survives. A document's
    * cut set is the UNION of its covered positions across all
    * partners and diagonals, so overlapping spans from different
    * partners cannot double-cut or miss.
    *
    * Scale shape: `substringSpans` does the heavy lifting (near-unique
    * window anchors, one pair-key shuffle); the removal itself is one
    * groupBy of the (tiny) span table per losing doc + a LEFT join
    * back to the corpus + a row-local index-filter HOF — span-free
    * documents ride the join untouched, and no text ever shuffles for
    * them. A fully-covered document surfaces with empty text and its
    * token count in `removed_tokens` — loud-never-silent, nothing
    * vanishes.
    *
    * Output: (idCol, textCol [cleaned, single-space rejoin],
    * removed_tokens). Idempotence on span-free output is gated in
    * LlmDedupSpec.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int, checkpointWindows: Boolean = false): DataFrame = {
    for (c <- Seq("removed_tokens", "__ivs", "__toks", "__kept")
         if df.columns.contains(c))
      require(false, s"spanDedup: '$c' is reserved for internal use — rename it")
    val spans = substringSpans(df, idCol, textCol, k, checkpointWindows)
    val ivs = spans
      .select(col("id_b").as(idCol),
        struct(col("pos_b").as("s"), col("span_tokens").as("l")).as("__iv"))
      .groupBy(idCol).agg(collect_list(col("__iv")).as("__ivs"))
    df.join(ivs, Seq(idCol), "left")
      .withColumn("__toks", TextOps.tokens(textCol))
      .withColumn("__kept",
        when(col("__ivs").isNull, col("__toks"))
          .otherwise(expr(
            "filter(__toks, (t, i) -> NOT exists(__ivs, v -> i >= v.s AND i < v.s + v.l))")))
      .select(col(idCol),
        array_join(col("__kept"), " ").as(textCol),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("removed_tokens"))
  }

  /** 64-bit SimHash over a pre-hashed token multiset column
    * (array<bigint> of xxhash64(token)): bit b is the sign of
    * Σ_tokens (±1 by bit b). Frequent tokens weigh naturally (the
    * fold runs over the multiset, not the set); the 64 × |tokens|
    * inner loop runs in the compiled `SimHash64Expr` kernel
    * (graft.functions.Sketches) rather than interpreted HOF lambdas.
    */
  def simhash64(thashesCol: String): Column =
    graft.functions.Sketches.simhash64(col(thashesCol))

  /** SimHash near-duplicate pairs: candidates from 16-bit chunk
    * equality (any pair within hamming ≤ 3 must share a chunk —
    * pigeonhole over 4 chunks), verified with exact
    * bit_count(xor) ≤ maxHamming.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int): DataFrame = {
    // same single-pass bucket shape as MinHash: the sketch pipeline is
    // computed once, buckets carry (id, simhash) structs, pairs explode
    // bucket-locally and verify before the distinct
    val hashed = df
      .withColumn("__toks", TextOps.tokens(textCol))
      .withColumn("__th", expr("transform(__toks, t -> xxhash64(t))"))
      .select(col(idCol), simhash64("__th").as("simhash"))
    val chunked = hashed.select(
      struct(col(idCol).as("id"), col("simhash").as("sh")).as("item"),
      posexplode(expr("transform(sequence(0, 3), c -> shiftright(simhash, c * 16) & 65535)")))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    chunked
      .groupBy("chunk", "chunk_val")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(expr(bucketPairs("items"))).as("p"))
      .select(col("p.l.id").as("id_a"), col("p.r.id").as("id_b"),
        expr("bit_count(p.l.sh ^ p.r.sh)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark decontamination: which corpus documents share at least
    * `minShared` distinct word n-grams with some benchmark document?
    * The named pipeline stage between dedup and training — a test-set
    * passage leaking into the corpus inflates eval scores, and n-gram
    * overlap (n ≈ 8–13 in the published recipes; the fixture uses 5)
    * is the standard detector.
    *
    * Shape: inverted-index join keyed by the gram — never a doc×doc
    * product — with the BENCHMARK side broadcast: benchmarks are tiny
    * next to a 100 TB corpus, so the probe is map-side and the corpus
    * never shuffles. A boilerplate gram that is hot in the corpus
    * costs only |bench postings| per occurrence, which the broadcast
    * bounds by the benchmark size.
    */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int, minShared: Long): DataFrame = {
    require(idCol != "gram" && textCol != "gram",
      "contaminationPairs: 'gram' is reserved for the join key")
    def gramRows(df: DataFrame, as: String): DataFrame = explodeNonEmpty(
      withTokens(df.filter(col(textCol).isNotNull), textCol, n)
        .withColumn("__g", TextOps.ngrams("__toks", n)),
      "__g", "gram", col(idCol).as(as))
    gramRows(corpus, "doc_id")
      .join(broadcast(gramRows(bench, "bench_id")), "gram")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Per-source contamination dashboard — the capstone over the two
    * leak detectors (the union-of-verdicts composition the published
    * decontamination recipes run): given the corpus and the
    * (doc-id) verdict sets of the LEXICAL arm (`contaminationPairs`)
    * and the SEMANTIC arm (`Similarity.semanticContamination`), one
    * row per source with its doc count, per-detector leak counts,
    * the UNION leak count (a doc flagged by both counts once) and
    * the leak rate in exact integer micro-units. The per-detector
    * columns are what make the dashboard actionable: a source
    * leaking lexically but not semantically is verbatim paste; the
    * reverse is paraphrase — different remediations.
    *
    * Shape: two left-semi-ish joins of the (tiny) verdict id sets
    * into the corpus, one source groupBy — the detectors themselves
    * already paid their cost upstream; this is their aggregation,
    * composable with ANY detector emitting ids.
    */
  def contaminationReport(corpus: DataFrame, idCol: String,
                          srcCol: String, lexLeakIds: DataFrame,
                          semLeakIds: DataFrame): DataFrame = {
    def flag(ids: DataFrame, as: String) = ids
      .select(col(ids.columns.head).as(idCol)).distinct()
      .withColumn(as, lit(true))
    corpus.select(col(idCol), col(srcCol))
      .join(flag(lexLeakIds, "__lex"), Seq(idCol), "left")
      .join(flag(semLeakIds, "__sem"), Seq(idCol), "left")
      .groupBy(col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__lex"), 1L).otherwise(0L)).as("n_lexical"),
        sum(when(col("__sem"), 1L).otherwise(0L)).as("n_semantic"),
        sum(when(col("__lex") || col("__sem"), 1L).otherwise(0L))
          .as("n_leaked"))
      .withColumn("leak_rate_micro",
        expr("(n_leaked * 1000000L) div n_docs"))
  }

  /** Incremental connected components — the warm arm of the cluster
    * tier for the daily-crawl shape: yesterday's stored (id,
    * cluster_id) labels stand in for yesterday's WHOLE pair graph
    * (each component collapses to a star on its min id — the min
    * label is preserved because a union of components keeps the min
    * over all members), and only the DELTA pairs (any pair touching a
    * new or changed doc) are run through min-label propagation on
    * top. Cost: |stored| + |delta| edges instead of replaying every
    * historical pair; result BIT-EQUAL to a from-scratch CC over
    * old ∪ delta pairs (spec-gated, including the interesting case —
    * a new doc BRIDGING two old components, whose merged label is the
    * min of both).
    *
    * ADDITIONS-ONLY BY CONTRACT (the snapshotDiff crawl convention):
    * a REMOVED historical pair is still fused inside the star and
    * needs the from-scratch rebuild — documented, not silent, because
    * the star collapse cannot know which old edges went away.
    */
  def connectedComponentsIncremental(storedLabels: DataFrame,
                                     deltaPairs: DataFrame, aCol: String,
                                     bCol: String,
                                     maxIter: Int = 20): DataFrame = {
    require(storedLabels.columns.toSeq == Seq("id", "cluster_id"),
      "connectedComponentsIncremental: storedLabels must be (id, cluster_id)")
    val star = storedLabels
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(aCol), col("cluster_id").as(bCol))
    connectedComponents(
      star.unionByName(deltaPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)
  }

  /** Transitive duplicate clusters: near-dup PAIRS under-merge (A~B,
    * B~C but A≁C leaves two keep-decisions for one logical document
    * family), so cluster the pair graph and key each document by its
    * component's minimum id.
    *
    * Two steps, after Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC'14): contract locally, then propagate.
    *  1. Contraction. The symmetric, distinct edge list is hashed over
    *     the shuffle partitions; each partition runs a union-find over
    *     its own edges (path halving, union toward the smaller id) and
    *     emits, for every non-root node x of a local component with
    *     root r, the star edges (x, r) and (r, x). Each local component
    *     is connected in the input, so the star graph has the same
    *     components, and min-id labels are unique, so the output does
    *     not depend on the partitioning. The union-find map holds one
    *     partition's distinct endpoints in memory and cannot spill.
    *  2. Min-label rounds on the star graph (below). One partition
    *     (AQE coalesces a small edge shuffle into one) leaves one star
    *     per component, which the first round labels and the second
    *     confirms: 2 rounds. Edges spread over many partitions leave
    *     stars joined across partitions, and the rounds merge those.
    *
    * The contracted edge list is `localCheckpoint`ed once (the input
    * is usually the output of an expensive similarity join) and
    * `Fixpoint` checkpoints each round's labels, truncating the
    * iterative lineage — without that, round k replans rounds 1..k-1.
    * Its probe is Σ(cluster_id), strictly monotone until the fixpoint
    * since labels only DECREASE; decimal, as Σ of 64-bit ids can pass
    * 2^63 and ANSI mode would throw.
    *
    * Returns (id, cluster_id) for every node of `pairs`; singleton
    * documents (no pair) are their own cluster by definition and
    * don't appear. A null endpoint is an unknown partner: the pair
    * gives no edge, and its other endpoint stays a node, labelled by
    * its remaining pairs (its own id if it has none); no null id is
    * returned. If `maxIter` rounds don't converge, the labels are
    * returned as-is with a WARN — audit, not silent truncation.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"connectedComponents: maxIter must be >= 1, got $maxIter")
    import pairs.sparkSession.implicits._
    val ab = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // a null endpoint turns the pair into a self-loop of the other one
    val a = coalesce(col("a"), col("b"))
    val b = coalesce(col("b"), col("a"))
    val edges = ab.select(a.as("src"), b.as("dst"))
      .union(ab.select(b.as("src"), a.as("dst")))
      .filter(col("src").isNotNull)
      .distinct()
      .as[(Long, Long)]
      .mapPartitions(contractToStars)
      .toDF("src", "dst")
      .localCheckpoint()
    val init = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    Fixpoint("connectedComponents", init, maxIter,
        sum(col("cluster_id").cast("decimal(38,0)")).as("label_sum")) { (labels, i) =>
      // one round = neighbor-min + pointer jump (label := label of
      // label). The jump alone is blind on CLUSTER-CHAIN graphs
      // (near-dup clusters bridged in sequence, the media-tier shape):
      // every member already points at its hub, while the smaller min
      // enters each cluster through ONE bridge member. So from round 3
      // on, labels also propagate between themselves (lab(dst) <-
      // lab(src) rides the same aggregate): neighbor-min on the
      // contracted cluster graph (Kiveris et al. 2014), which collapses
      // chains of clusters logarithmically when the stars of step 1
      // span partitions. Rounds 1-2 skip it, as labels are still
      // near-identity there and the label edges would repeat the plain
      // ones; the all-singleton path pays ~+34%.
      val neighborMin = (if (i < 2) {
        edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("cluster_id"))
          .union(labels)
      } else {
        val both = edges
          .join(labels.select(col("id").as("src"),
            col("cluster_id").as("__lsrc")), "src")
          .join(labels.select(col("id").as("dst"),
            col("cluster_id").as("__ldst")), "dst")
        both.select(col("dst").as("id"), col("__lsrc").as("cluster_id"))
          .union(both.select(col("__ldst").as("id"),
            col("__lsrc").as("cluster_id")))
          .union(labels)
      }).groupBy("id").agg(min("cluster_id").as("cluster_id"))
      neighborMin
        .join(neighborMin.select(col("id").as("cluster_id"),
          col("cluster_id").as("__jump")), Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__jump"), col("cluster_id")))
            .as("cluster_id"))
    }._1
  }

  /** Step 1 of [[connectedComponents]] over one partition's edges: a
    * union-find (path halving, union toward the smaller id) that emits
    * (x, root) and (root, x) for every non-root node x. A node whose
    * only local edges are self-loops keeps one (x, x), so it stays a
    * node of the star graph.
    */
  private def contractToStars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((s, d) <- edges) {
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    val roots = parent.keys.toArray.map(x => x -> find(x))
    val joined = roots.collect { case (x, r) if x != r => r }.toSet
    roots.iterator.flatMap {
      case (x, r) if x != r => Iterator((x, r), (r, x))
      case (x, _) if !joined(x) => Iterator((x, x))
      case _ => Iterator.empty
    }
  }

  /** Dedup-aware SOFT retention weights — the downweight-instead-of-drop
    * alternative when removal is too aggressive (templated-but-distinct
    * docs, licensed boilerplate with unique payloads): every near-dup
    * cluster collectively counts ONCE in the training mix instead of
    * `size` times, but no document vanishes. Weights are exact integer
    * micro-units (1e6 = 1.0): a singleton keeps 1_000_000; a cluster of
    * size s gives each member floor(1e6/s) and assigns the division
    * remainder 1e6 − s·floor(1e6/s) to the cluster's MIN-ID member, so
    * Σ weight over every cluster is EXACTLY 1_000_000 — corpus mass is
    * conserved to the micro-unit and the weights compose losslessly
    * with the integer mixing tiers (`mixToBudget`/`mixTemperature`).
    *
    * Scale shape: the pair graph (from any dedup tier — the LSH arms
    * slot in unchanged) is closed under `connectedComponents`
    * (per-partition contraction, then min-label rounds); docs outside every pair
    * ride a LEFT join and become their own singleton cluster; cluster
    * sizes are one partial-agg shuffle collapsing to #clusters rows;
    * the weight itself is row-local integer arithmetic. The doc table
    * is shuffled once, on the id join key.
    *
    * Output: (idCol, cluster_id, cluster_size, weight_micro).
    */
  /** Per-document n-gram NOVELTY — the dedup-QA metric of the
    * substring-dedup literature (what fraction of a doc is text the
    * corpus has not seen before it): for every document, the share of
    * its DISTINCT n-grams whose globally FIRST occurrence (minimum
    * doc id over all docs containing the gram — the id is the crawl-
    * order proxy) is this document. A novelty near 0 flags a doc
    * assembled almost entirely from earlier text (lifted/templated)
    * even when no single pair crosses a near-dup threshold; the
    * corpus-level histogram is the standard before/after evidence
    * that a dedup pass worked.
    *
    * Scale shape: gram explode is row-local; one partial-agged
    * min-shuffle on the gram computes first owners; one join back on
    * the gram and one per-doc count-agg — all keyed shuffles, no
    * pairwise surface at all (this is the metric you CAN afford when
    * the Σf² pair tiers are out of budget). At 100 TB the gram text
    * would be pre-hashed to 8 bytes before the shuffle; raw text here
    * keeps the oracle comparison collision-free (the segmentDedup
    * note). Short docs (< n tokens, zero grams) surface with
    * n_grams = 0 and novelty_micro = −1 — out-of-range sentinel,
    * never NULL, never dropped.
    *
    * Output: (idCol, n_grams, n_novel, novelty_micro).
    */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, "gramNovelty: n must be >= 1")
    for (c <- Seq("gram", "n_grams", "n_novel", "novelty_micro", "__toks",
        "__g", "__first") if df.columns.contains(c))
      require(c == idCol,
        s"gramNovelty: '$c' is reserved for internal use — rename it")
    val grams = withTokens(df.filter(col(textCol).isNotNull), textCol, n)
      .select(col(idCol), explode(TextOps.ngrams("__toks", n)).as("gram"))
    val firstOwner = grams.groupBy("gram")
      .agg(min(col(idCol)).as("__first"))
    val perDoc = grams.join(firstOwner, Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col(idCol) === col("__first"), 1L).otherwise(0L)).as("n_novel"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("coalesce(n_novel, 0) * 1000000 div n_grams"))
          .otherwise(lit(-1L)).cast("long").as("novelty_micro"))
  }

  def softDedupWeights(docs: DataFrame, idCol: String,
                       pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    for (c <- Seq("cluster_id", "cluster_size", "weight_micro", "__minid")
        if docs.columns.contains(c))
      require(c == idCol,
        s"softDedupWeights: '$c' is reserved for internal use — rename it")
    val cc = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_id"))
    val labeled = docs.select(col(idCol).cast("long").as(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("__minid"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id").cast("long").as("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        (expr("1000000L div cluster_size") +
          when(col(idCol) === col("__minid"),
            lit(1000000L) - col("cluster_size") * expr("1000000L div cluster_size"))
            .otherwise(lit(0L))).cast("long").as("weight_micro"))
  }

  /** Segment-level boilerplate removal — the corpus-wide line-dedup
    * pass of the CCNet/RefinedWeb pipelines, realized on token
    * segments (this corpus is single-line text, so the "line" unit is
    * a fixed window of `w` consecutive tokens; the mechanism is
    * identical). A segment whose exact text occurs in ≥ `minDocs`
    * DISTINCT documents is boilerplate (headers, navigation chrome,
    * license blurbs) and is cut from every document carrying it; the
    * survivors are reassembled in original order.
    *
    * Shapes, not arrays-of-arrays: one explode to segment rows, one
    * groupBy on the segment text (count-distinct docs), one left-anti
    * join back, one per-doc reassembly agg. The shuffled unit is a
    * ≤`w`-token string — at 100 TB you would pre-hash it to 16 bytes
    * before the shuffle; here the raw text keys the groupBy so the
    * oracle comparison carries no collision caveat. A document whose
    * EVERY segment is boilerplate still surfaces (clean_text = ''),
    * via the left join — the mixToBudget audit lesson.
    *
    * Output: (idCol, clean_text, n_seg, n_dropped).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   w: Int, minDocs: Int): DataFrame = {
    require(w > 0 && minDocs >= 2, "segmentDedup: w > 0, minDocs >= 2")
    for (c <- Seq("__toks", "__nseg", "__i", "seg_text", "clean_text",
        "__nkept", "__nd", "n_seg", "n_dropped") if df.columns.contains(c))
      require(false, s"segmentDedup: '$c' is reserved for internal use — rename it")
    val base = df
      .withColumn("__toks", TextOps.tokens(textCol))
      .withColumn("__nseg",
        ceil(size(col("__toks")).cast("double") / w).cast("int"))
      .select(col(idCol), col("__toks"), col("__nseg"))
    val segs = base
      .select(col(idCol), col("__nseg"),
        explode(expr(s"sequence(0, __nseg - 1)")).as("__i"),
        col("__toks"))
      .withColumn("seg_text",
        array_join(slice(col("__toks"), col("__i") * w + 1, lit(w)), " "))
      .select(col(idCol), col("__i"), col("seg_text"))
    val boiler = segs.groupBy("seg_text")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("seg_text")
    val kept = segs.join(boiler, Seq("seg_text"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__i"), col("seg_text")))),
            s => s("seg_text")),
          " ").as("clean_text"),
        count(lit(1)).as("__nkept"))
    base.select(col(idCol), col("__nseg"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("__nseg").cast("long").as("n_seg"),
        (col("__nseg").cast("long") - coalesce(col("__nkept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Cross-source content-overlap matrix: for every unordered source
    * pair, how many DISTINCT w-token segments (the `segmentDedup`
    * stride-w segmentation — same boundaries, same w) appear in both
    * sources. The lexical companion to the source-centroid cosine
    * matrix: where that one says two crawls point the same semantic
    * direction, this one says verbatim content actually FLOWS between
    * them (mirrored boilerplate, syndicated text, re-crawled dumps) —
    * the per-source-pair evidence behind a decision to collapse two
    * sources before mixing. Pairs sharing nothing are absent, not
    * zero-padded (the output is the sparse upper triangle).
    *
    * Scale shape: segment explode is row-local; the (source, segment)
    * DISTINCT is one shuffle on the segment text (map-side combine
    * collapses within-partition repeats first); the self-join is an
    * EQUALITY join on segment text — never all-pairs — and the pair
    * count partial-aggregates to S²/2 rows. Hot boilerplate segments
    * (shared by many sources) fan out S_seg² pairs per segment —
    * bounded by S², the source count, not the corpus.
    */
  def crossSourceOverlap(df: DataFrame, textCol: String,
                         sourceCol: String, w: Int): DataFrame = {
    require(w > 0, "crossSourceOverlap: w must be positive")
    for (c <- Seq("__toks", "__nseg", "__i", "__seg", "source_a",
        "source_b", "n_shared") if df.columns.contains(c))
      require(false, s"crossSourceOverlap: '$c' is reserved for internal use — rename it")
    val segs = df
      .withColumn("__toks", TextOps.tokens(textCol))
      .withColumn("__nseg",
        ceil(size(col("__toks")).cast("double") / w).cast("int"))
      .select(col(sourceCol),
        explode(expr(s"sequence(0, __nseg - 1)")).as("__i"),
        col("__toks"))
      .select(col(sourceCol),
        array_join(slice(col("__toks"), col("__i") * w + 1, lit(w)), " ")
          .as("__seg"))
      .distinct()
    segs.as("a")
      .join(segs.as("b"),
        col("a.__seg") === col("b.__seg") &&
          col(s"a.$sourceCol") < col(s"b.$sourceCol"))
      .groupBy(col(s"a.$sourceCol").as("source_a"),
        col(s"b.$sourceCol").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Intra-document repeated-segment removal — the within-doc half of
    * the boilerplate story (`segmentDedup` is the corpus-wide half):
    * a document that repeats the same `w`-token segment keeps only the
    * FIRST occurrence; later copies are cut and the survivors
    * reassembled in order. This is the transform counterpart of the
    * `repetitionStats` signals — scrape loops and template stutter get
    * removed, not just scored.
    *
    * Entirely row-local: segmenting, first-occurrence marking and
    * reassembly are one higher-order-function chain per row (the
    * segment list is w-fold smaller than the token list, so the
    * quadratic first-index probe is bounded and cache-hot) — no
    * explode, no shuffle, no state. Scales as a pure map at any
    * corpus size.
    *
    * Output: (idCol, clean_text, n_seg, n_dropped).
    */
  def intraDocDedup(df: DataFrame, idCol: String, textCol: String,
                    w: Int): DataFrame = {
    require(w > 0, "intraDocDedup: w > 0")
    for (c <- Seq("__toks", "__segs", "__kept", "clean_text", "n_seg",
        "n_dropped") if df.columns.contains(c))
      require(false, s"intraDocDedup: '$c' is reserved for internal use — rename it")
    df.withColumn("__toks", TextOps.tokens(textCol))
      .withColumn("__segs", expr(
        s"""transform(sequence(0, CAST(ceil(size(__toks) / CAST($w AS double)) AS int) - 1),
           |  i -> array_join(slice(__toks, i * $w + 1, $w), ' '))""".stripMargin))
      .withColumn("__kept", expr(
        // keep segment i iff no earlier identical segment exists;
        // array_position returns the FIRST 1-based index
        "filter(__segs, (s, i) -> array_position(__segs, s) = i + 1)"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__segs")).cast("long").as("n_seg"),
        (size(col("__segs")) - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /** Cross-batch (incremental) dedup, exact arm: which `incoming`
    * documents are genuinely new vs an `existing` corpus? Left-anti
    * join on the content hash — both sides shuffle (hash, id) pairs
    * only, never the text. This is the oracle tier.
    */
  def newDocsExact(existing: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    incoming.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(existing.select(md5(col(textCol)).as("__h")), Seq("__h"), "left_anti")
      .select(col(idCol))

  /** Snapshot diff — the crawl-refresh ledger: given the previous and
    * current corpus snapshots keyed by id, classify every id as
    * added / removed / changed / unchanged (content compared
    * verbatim). The bookkeeping that decides what the incremental
    * tiers (L-31/L-32, the streaming dedup) actually need to process
    * on a refresh, and what a dataset changelog publishes.
    *
    * Scale shape: ONE full-outer equi-join keyed on the id — the
    * minimal shuffle for any old/new reconciliation — with byte sizes
    * computed row-local before the join so the post-join compare is
    * cheap. Byte columns carry -1 sentinels on the absent side (never
    * NULL — the harness csv-hashes column values; same discipline as
    * `ensemblePairs`). Output: (idCol, status, bytes_old, bytes_new).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), col(textCol).as("__to"),
      octet_length(col(textCol)).cast("long").as("__bo"))
    val n = newDf.select(col(idCol), col(textCol).as("__tn"),
      octet_length(col(textCol)).cast("long").as("__bn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__to").isNull, lit("added"))
          .when(col("__tn").isNull, lit("removed"))
          .when(col("__to") =!= col("__tn"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("__bo"), lit(-1L)).as("bytes_old"),
        coalesce(col("__bn"), lit(-1L)).as("bytes_new"))
  }

  /** Snapshot DRIFT report — the distributional companion to
    * `snapshotDiff`'s per-id ledger: per-source token mass in the old
    * and new snapshots, micro-unit corpus shares, the share delta,
    * and the total-variation distance between the two source mixes
    * (TV = ½·Σ|p_s − q_s|, the standard drift statistic, stamped on
    * every row). A crawl refresh that silently doubled one source's
    * share — the thing that skews the next mixing run — surfaces here
    * as one loud number. All arithmetic is exact integers: shares are
    * floor(toks·1e6 / total) BIGINTs, TV is an integer sum halved, so
    * the report replays bit-for-bit in any engine.
    *
    * Scale shape: two partial-agg shuffles each collapsing to S
    * (=#sources) rows BEFORE the exchange; the full-outer join,
    * 1-row totals broadcast, and the unbounded window all run on
    * S-sized data — corpus rows are never shuffled. Absent sources
    * surface with 0 tokens (never NULL); an EMPTY snapshot fails loud
    * on the share division (ANSI) rather than reporting 0 drift.
    *
    * Output: (source, toks_old, toks_new, share_old_micro,
    * share_new_micro, delta_micro, tv_micro).
    */
  def snapshotDrift(oldDf: DataFrame, newDf: DataFrame,
                    srcCol: String, textCol: String): DataFrame = {
    def perSource(df: DataFrame, as: String): DataFrame =
      df.groupBy(col(srcCol).as("source"))
        .agg(sum(size(graft.llm.TextOps.tokens(textCol)).cast("long")).as(as))
    val joined = perSource(oldDf, "toks_old")
      .join(perSource(newDf, "toks_new"), Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("toks_old"), lit(0L)).as("toks_old"),
        coalesce(col("toks_new"), lit(0L)).as("toks_new"))
    val totals = joined.agg(sum("toks_old").cast("long").as("__tot_old"),
      sum("toks_new").cast("long").as("__tot_new"))
    joined.crossJoin(broadcast(totals))
      .select(col("source"), col("toks_old"), col("toks_new"),
        expr("toks_old * 1000000L div __tot_old").as("share_old_micro"),
        expr("toks_new * 1000000L div __tot_new").as("share_new_micro"))
      .withColumn("delta_micro",
        col("share_new_micro") - col("share_old_micro"))
      .withColumn("tv_micro",
        expr("sum(abs(delta_micro)) OVER () div 2").cast("long"))
  }

  /** Cross-batch dedup, Bloom scale arm: the daily-crawl shape where
    * `existing` is the full corpus and `incoming` a small new batch.
    * A Bloom filter over the existing hashes is built DISTRIBUTED
    * (`stat.bloomFilter` treeAggregates partial filters; the driver
    * holds one ~`1.44·n·log2(1/fpp)`-bit copy), then the incoming
    * batch is filtered MAP-SIDE with Spark's own codegen'd
    * `BloomFilterMightContain` kernel — the expression Spark injects
    * for runtime row-level filtering, here bound to a literal filter.
    * Neither corpus shuffles at all.
    *
    * Error is one-sided by construction: a document already in
    * `existing` is ALWAYS removed (no false negatives in the filter),
    * and a genuinely new document is wrongly dropped with probability
    * ≤ `fpp` — the conservative direction for training data.
    * LlmDedupSpec gates `bloom ⊆ exact` and the planted-overlap
    * fixture; the exact arm is the oracle (`q_dedup_incremental`).
    */
  def newDocsBloom(existing: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String,
                   expectedItems: Long, fpp: Double = 0.001): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.GraftBridge
    val bloom = existing
      .select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    // probe with the SAME long that was inserted (xxhash64 of the text)
    val might = GraftBridge.column(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(xxhash64(col(textCol)))))
    incoming.filter(!might).select(col(idCol))
  }

  /** Ensemble near-dup evidence: the lexical pair tier (id_a, id_b,
    * jaccard) full-outer-joined with the semantic pair tier (id_a,
    * id_b, cos) over an aligned id space. `evidence` = both | lexical
    * | semantic: 'both' pairs are the near-certain removals, single-
    * arm pairs are where the two notions of duplicate DISAGREE — the
    * review queue. Metrics absent from an arm surface as −1 sentinels,
    * never NULL (the harness csv-hashes column values, and −1 is
    * outside both metrics' ranges).
    *
    * Scale shape: both inputs are already-thresholded PAIR tables —
    * tiny next to their corpora — so the join is pair-table-sized
    * regardless of which arms (exact tiers or LSH arms) produced them.
    */
  def ensemblePairs(lex: DataFrame, sem: DataFrame): DataFrame = {
    require(Seq("id_a", "id_b", "jaccard").forall(lex.columns.contains),
      "ensemblePairs: lexical side needs (id_a, id_b, jaccard)")
    require(Seq("id_a", "id_b", "cos").forall(sem.columns.contains),
      "ensemblePairs: semantic side needs (id_a, id_b, cos)")
    lex.select("id_a", "id_b", "jaccard")
      .join(sem.select("id_a", "id_b", "cos"), Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(col("jaccard").isNotNull && col("cos").isNotNull, lit("both"))
          .when(col("jaccard").isNotNull, lit("lexical"))
          .otherwise(lit("semantic")).as("evidence"),
        coalesce(col("jaccard"), lit(-1.0)).as("jaccard"),
        coalesce(col("cos"), lit(-1.0)).as("cos"))
  }

  /** Dedup-threshold sweep: the DECISION INPUT for picking the near-dup
    * threshold (the skewProfile pattern applied to the dedup tier).
    * One pass over the Jaccard pair table at a LOW `floor` yields, for
    * every decile threshold t ≥ floor, the exact number of pairs that
    * would fire and the exact number of distinct documents a dedup at
    * t would touch — the curve whose knee picks the production
    * threshold, computed before committing to one.
    *
    * Scale shape: the expensive part is the candidate pair table, paid
    * ONCE at the floor (every higher threshold is a subset — no
    * re-join per threshold). Everything downstream is pair-table-sized:
    * a ≤9-row threshold table broadcast against pairs (theta join on
    * jaccard ≥ t — a broadcast nested loop over single-digit rows),
    * one groupBy for pair counts, and one over the exploded id column
    * for distinct-doc counts (2·|pairs|·|thresholds| rows max, all
    * tiny next to the corpus). Empty deciles surface as loud zeros.
    * The jaccard doubles and the t = d/10 comparisons are the same
    * correctly-rounded IEEE ops in DuckDB — the sweep is hash-exact.
    */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
                     blockCol: String, n: Int,
                     floor: Double = 0.2): DataFrame = {
    require(floor > 0.0 && floor <= 1.0,
      s"thresholdSweep: floor in (0,1], got $floor")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = ngramJaccardPairs(df, idCol, textCol, blockCol, n, floor)
    val lo = math.ceil(floor * 10).toInt
    val ths = (lo to 10).toDF("th_decile")
    val t = col("th_decile").cast("double") / lit(10.0)
    val pg = pairs.join(broadcast(ths), col("jaccard") >= t)
      .groupBy("th_decile").agg(count(lit(1)).as("pairs_ge"))
    // docs touched at threshold t = docs whose MAX pair jaccard >= t
    // (identical set under any total order — max is over the same
    // IEEE doubles the old per-row >= compared), so the explode runs
    // ONCE and the per-threshold countDistinct collapses to a plain
    // count over the per-id max table (r18: the old shape exploded the
    // pair list x|thresholds| and paid a two-phase distinct per decile)
    val dg = pairs
      .select(col("jaccard"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("id")).agg(max(col("jaccard")).as("__mj"))
      .join(broadcast(ths), col("__mj") >= t)
      .groupBy("th_decile").agg(count(lit(1)).as("docs_ge"))
    ths.join(pg, Seq("th_decile"), "left")
      .join(dg, Seq("th_decile"), "left")
      .select(col("th_decile"),
        coalesce(col("pairs_ge"), lit(0L)).as("pairs_ge"),
        coalesce(col("docs_ge"), lit(0L)).as("docs_ge"))
  }

  /** Character-level near-dup verification: Levenshtein similarity on
    * candidate pairs. The tier BETWEEN set-based n-gram Jaccard (which
    * ignores token order entirely — "a b c d" ≡ "d c b a") and exact
    * substring spans (which demand verbatim runs): edit distance
    * charges every insertion/deletion/substitution, so it catches
    * light paraphrase and template-edit duplicates that Jaccard
    * over-scores and span matching misses, while staying an EXACT,
    * cross-engine-reproducible integer (both Spark and DuckDB
    * implement the same unit-cost Levenshtein).
    *
    * Candidates come from the n-gram Jaccard inverted-index join at a
    * LOW floor (`candidateThreshold`) — a deliberate recall-first
    * gate: edit similarity ≥ t forces high gram overlap, so a loose
    * Jaccard floor over-generates rather than misses (the fixture's
    * near-dup pairs sit well above 0.3 Jaccard; the spec pins
    * candidate-completeness on planted paraphrases). Each surviving
    * pair is then scored
    *
    *   sim_micro = ((maxlen − lev) · 1e6) div maxlen
    *
    * integer micro-units, addition-free — bit-equal in DuckDB
    * (`// maxlen` on non-negative operands ≡ Spark `div`), since
    * lev ≤ max(len_a, len_b) always.
    *
    * Scale shape: the pair table (already thresholded, tiny next to
    * the corpus) re-joins `df` twice on the id to fetch text — at
    * corpus scale that is two id-keyed shuffles of the PAIR table
    * against bucketed text (`operators/Bucketing` makes them
    * exchange-free on a bucketed corpus). The O(len²) DP per pair is
    * the real cost, so the verify runs Spark's BANDED kernel
    * `levenshtein(a, b, K)`: cost O(K·min(len)) and early exit at
    * distance > K. K is computed ONCE driver-side from the corpus max
    * text length (a 1-row bounded aggregate, the date-bounds pattern):
    * any pair passing `simThreshold` has lev ≤ maxlen·(1−t) ≤
    * maxTextLen·(1−t) = K, so the band NEVER clips a passing pair —
    * the banded plan is output-identical to the unbanded one
    * (spec-gated) and carries the same DuckDB oracle. Pairs the band
    * rejects surface as lev = −1 and are dropped by the threshold
    * filter, not silently mis-scored.
    *
    * At 100 TB the LSH arm (`minhashNearDups` candidates) slots in for
    * the candidate stage unchanged — the verify is candidate-agnostic.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int,
                        candidateThreshold: Double, simThreshold: Double,
                        banded: Boolean = true): DataFrame = {
    require(simThreshold > 0.0 && simThreshold <= 1.0,
      s"editDistancePairs: simThreshold in (0,1], got $simThreshold")
    val cands = ngramJaccardPairs(df, idCol, textCol, blockCol, n,
      candidateThreshold).select("id_a", "id_b")
    levVerify(df, idCol, textCol, cands, simThreshold, banded)
  }

  /** The 100 TB arm of the edit-distance tier: the candidate stage is
    * `minhashNearDups` (banded LSH — cost ∝ bucket collisions, never
    * Σf² over an uncapped inverted index), the verify is the SAME
    * banded-Levenshtein kernel as `editDistancePairs` — the
    * composition that tier's scaladoc promises ("the verify is
    * candidate-agnostic"). Approximate only on the candidate side
    * (bucket misses), so output ⊆ the exact arm at equal thresholds;
    * recall on planted paraphrases and the ⊆ law are gated in
    * LlmDedupSpec, and the harness entry (q_editdist_pairs_lsh) is
    * rows-only BY CONTRACT for that one-sided reason.
    *
    * Default banding is 32 × 2 (vs the Jaccard arm's 16 × 4):
    * candidates here feed an exact verify, so false positives only
    * cost a Levenshtein call while a miss loses a pair — the S-curve
    * at 2 rows/band collides >95% even at Jaccard 0.3, pushing
    * candidate recall toward the recall-first contract of the exact
    * arm's loose gram floor.
    */
  def editDistancePairsLsh(df: DataFrame, idCol: String, textCol: String,
                           candidateThreshold: Double, simThreshold: Double,
                           numHashes: Int = 64, bands: Int = 32,
                           shingleN: Int = 2, blockCol: Option[String] = None,
                           banded: Boolean = true): DataFrame = {
    require(simThreshold > 0.0 && simThreshold <= 1.0,
      s"editDistancePairsLsh: simThreshold in (0,1], got $simThreshold")
    val cands = minhashNearDups(df, idCol, textCol, candidateThreshold,
      numHashes, bands, shingleN, blockCol).select("id_a", "id_b")
    levVerify(df, idCol, textCol, cands, simThreshold, banded)
  }

  /** Shared verify stage of the two edit-distance arms: fetch both
    * texts for each candidate pair, score banded Levenshtein, keep
    * sim_micro ≥ threshold. See `editDistancePairs` for the band-K
    * derivation (never clips a passing pair) and the micro-unit
    * integer contract.
    */
  private def levVerify(df: DataFrame, idCol: String, textCol: String,
                        cands: DataFrame, simThreshold: Double,
                        banded: Boolean): DataFrame = {
    val txt = df.select(col(idCol), col(textCol))
    val thMicro = math.floor(simThreshold * 1e6).toLong
    val paired = cands
      .join(txt.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed(textCol, "__ta"), Seq("id_a"))
      .join(txt.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed(textCol, "__tb"), Seq("id_b"))
      .withColumn("maxlen",
        greatest(length(col("__ta")), length(col("__tb"))).cast("long"))
    val lev =
      if (!banded) levenshtein(col("__ta"), col("__tb"))
      else {
        // exact band: K ≥ maxlen·(1−t) for every row, so lev > K ⇒
        // sim < t on any pair — the −1 early-exit only ever drops
        // pairs the threshold filter would drop anyway
        val maxLenRow = df.agg(max(length(col(textCol)))).head()
        val maxTextLen = if (maxLenRow.isNullAt(0)) 0L else maxLenRow.getInt(0).toLong
        levenshtein(col("__ta"), col("__tb"),
          math.ceil(maxTextLen * (1.0 - simThreshold)).toInt)
      }
    paired
      .withColumn("lev", lev.cast("long"))
      .filter(col("lev") >= 0L)
      .withColumn("sim_micro",
        expr("((maxlen - lev) * 1000000L) div maxlen"))
      .filter(col("sim_micro") >= thMicro)
      .select(col("id_a"), col("id_b"), col("lev"), col("sim_micro"))
  }
}
