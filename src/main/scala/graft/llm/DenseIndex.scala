package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.ModelStore
import graft.llm.Similarity.{ivfMembers, ivfSearch, normalizedVecs}

/** Persisted dense (IVF) ANN index — the lexical/MinHash index-store
  * pattern (`Retrieval.buildLexIndex` / `Dedup.buildMinhashIndex`)
  * applied to the embedding tier, closing the "index-build once,
  * search every run, MAINTAIN daily" triangle the r9 verdict named:
  * the IVF model (`Similarity.ivfTrain` + `ModelStore.saveIvf`) was
  * persistable but every search still re-scanned and re-assigned the
  * whole corpus. Here the assignment IS the stored artifact.
  *
  * Structure:
  *   - `members` — one row per indexed vector: (id, cluster, vq, nsq),
  *     i.e. the coarse cell plus exactly the quantized columns
  *     `ivfTopKWith`'s scoring join needs. The raw embedding is NOT
  *     stored: at 100 TB the index keeps ~8·dims B of quantized ints
  *     per vector and the corpus parquet is never touched by a search.
  *   - `flatCentroids`/`kEff` — the frozen coarse quantizer, a bounded
  *     driver-side model artifact (≤ kEff·dims doubles), persisted via
  *     `ModelStore.saveIvf`.
  *
  * The maintenance contract that makes the incremental arm EXACT:
  * centroids are trained once at build time and FROZEN by updates.
  * Cell assignment is then row-local (argmin over literal centroids),
  * so `update` (anti-join removed ids, assign the batch with the
  * stored centroids, union) is bit-equal to re-assigning the full
  * updated corpus against the same centroids — the gate
  * DenseIndexSpec pins end to end, through the streaming arm. The
  * price of freezing is drift: a corpus whose distribution moves away
  * from the trained centroids piles new vectors into few cells and
  * recall decays toward a linear scan of the hot cell. `drift` makes
  * that observable (per-cell occupancy vs the balanced share) and
  * `needsRetrain` is the loud boolean the maintenance loop checks —
  * retraining is a deliberate offline rebuild (new centroids change
  * every assignment), never something an upsert does silently.
  */
case class DenseIndex(members: DataFrame, flatCentroids: Array[Double],
                      kEff: Int) {
  def dims: Int = flatCentroids.length / kEff
}

object DenseIndex {

  /** Row-local cell assignment against FROZEN centroids — shared by
    * build, update, and the rebuild twin the spec compares against.
    * Output: (id, cluster, vq, nsq); zero-norm/malformed vectors land
    * in the -1 sentinel cell (never probed — quarantine upstream with
    * `Similarity.auditEmbeddings` to see them). Map-only after the
    * id repartition; nothing here depends on any other row.
    */
  def assignMembers(df: DataFrame, idCol: String, embCol: String,
                    flatCentroids: Array[Double], kEff: Int): DataFrame = {
    require(kEff > 0 && flatCentroids.nonEmpty &&
      flatCentroids.length % kEff == 0,
      "assignMembers: centroids must be kEff x d row-major")
    ivfMembers(normalizedVecs(df, idCol, embCol), idCol, flatCentroids, kEff)
  }

  /** Train the coarse quantizer on `df` (the `ivfTrain` bounded
    * deterministic sample) and assign every vector. None on an empty /
    * all-zero-norm corpus — nothing to index is not an index.
    */
  def build(df: DataFrame, idCol: String, embCol: String,
            nClusters: Int = 16, lloydIters: Int = 5,
            trainSample: Int = 512): Option[DenseIndex] =
    Similarity.ivfTrain(df, idCol, embCol, nClusters, lloydIters, trainSample)
      .map { case (c, ke) =>
        DenseIndex(assignMembers(df, idCol, embCol, c, ke), c, ke)
      }

  /** Search the stored members with a probe frame — `ivfTopKWith`'s
    * plan with the member side coming from the STORE, not a corpus
    * re-scan: probes (assumed bounded — a query batch, not a corpus)
    * are assigned to their `nProbe` nearest cells and broadcast into
    * an equi-join on `cluster`, so each probe touches ~nProbe/kEff of
    * the index and the parquet members scan prunes on the clustered
    * layout `save` wrote. Scoring is the exact quantized cosine;
    * ranking (cos DESC, id ASC) with probe-id self-matches excluded.
    */
  def search(idx: DenseIndex, probes: DataFrame, idCol: String,
             embCol: String, k: Int, nProbe: Int = 4): DataFrame =
    ivfSearch(normalizedVecs(probes, idCol, embCol), idx.members, idCol,
      idx.flatCentroids, idx.kEff, nProbe, k)

  /** Apply a snapshot diff at touched-data cost: `removedIds` =
    * removed + changed ids, `addedDocs` = added + changed rows (the
    * `snapshotDiff` / `updateMinhashIndex` convention). Centroids are
    * FROZEN — assignment of the added rows is row-local against the
    * stored model, which is exactly what makes the result bit-equal
    * to a full re-assignment of the updated corpus (spec-gated).
    */
  def update(idx: DenseIndex, removedIds: DataFrame, addedDocs: DataFrame,
             idCol: String, embCol: String): DenseIndex = {
    require(removedIds.columns.toSeq == Seq(idCol),
      s"DenseIndex.update: removedIds must be exactly ($idCol)")
    val add = assignMembers(addedDocs, idCol, embCol,
      idx.flatCentroids, idx.kEff)
    idx.copy(members = idx.members
      .join(removedIds.distinct(), Seq(idCol), "left_anti")
      .unionByName(add))
  }

  /** Per-cell occupancy audit: (cluster, n, share_micro, skewed) for
    * every trained cell (empty cells emit n=0 — a vanished cell is
    * drift too) plus the -1 quarantine cell when occupied. A cell is
    * `skewed` when its share exceeds `skewFactor` times the balanced
    * share 1/kEff. One groupBy over the (id, cluster) store — the
    * vectors themselves are not read.
    */
  def drift(idx: DenseIndex, skewFactor: Double = 4.0): DataFrame = {
    require(skewFactor > 1.0, s"drift: skewFactor > 1, got $skewFactor")
    val spark = idx.members.sparkSession
    import spark.implicits._
    val cells = spark.range(idx.kEff).select(col("id").as("cluster"))
    val occ = idx.members.groupBy("cluster").agg(count(lit(1)).as("n"))
    val total = idx.members.count()
    cells.join(occ, Seq("cluster"), "left")
      .unionByName(occ.filter(col("cluster") === -1L))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("share_micro",
        when(lit(total) === 0L, lit(0L))
          .otherwise(col("n") * 1000000L / total))
      .withColumn("skewed",
        col("cluster") >= 0L &&
          col("share_micro").cast("double") >
            lit(skewFactor * 1e6 / idx.kEff))
  }

  /** The loud maintenance-loop check: true when any trained cell's
    * occupancy exceeds `skewFactor` times the balanced share. The
    * caller decides WHEN to pay the offline retrain; this only makes
    * the decay visible instead of silent.
    */
  def needsRetrain(idx: DenseIndex, skewFactor: Double = 4.0): Boolean =
    !drift(idx, skewFactor).filter(col("skewed")).isEmpty

  /** Members clustered on `cluster` so a probe's cell equi-join prunes
    * row groups (the `saveMinhashIndex` layout reasoning); the coarse
    * model rides along as a `ModelStore` artifact under `model/`.
    */
  def save(idx: DenseIndex, idCol: String, dir: String): Unit = {
    idx.members.repartition(col("cluster")).sortWithinPartitions("cluster")
      .write.mode("overwrite").parquet(dir + "/members")
    ModelStore.saveIvf(idx.members.sparkSession, idx.flatCentroids,
      idx.kEff, dir + "/model")
  }

  /** LOUD on an unexpected members schema — a stale or foreign
    * directory must not search silently wrong.
    */
  def load(spark: SparkSession, idCol: String, dir: String): DenseIndex = {
    val m = spark.read.parquet(dir + "/members")
    require(m.columns.toSeq == Seq(idCol, "cluster", "vq", "nsq"),
      s"DenseIndex.load: unexpected members schema ${m.columns.mkString(",")}")
    val (c, ke) = ModelStore.loadIvf(spark, dir + "/model")
    DenseIndex(m, c, ke)
  }
}
