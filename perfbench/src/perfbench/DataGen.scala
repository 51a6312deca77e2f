package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the benchmark's input tables: `events`, `documents` and
  * `embeddings` with the schemas and value domains of the sf0.1 test
  * fixture (FIXTURES.md section B), from one fixed seed, so every
  * checkout builds byte-for-byte the same rows.
  *
  *  - events: 100 000 rows over 30 days from 2024-01-01 UTC, 1 500 users,
  *    five event types, `value` ~ Exp(mean 50) to two decimals,
  *    `props` = {"k": 0..99}; `event_id` follows timestamp order.
  *  - documents: 1 500 texts of 10..100 words from a 31-word vocabulary;
  *    `lang` en 40 %, de/es/fr/zh 15 % each; 20 sources. One in ten is a
  *    copy of an earlier document with one to three words replaced, so
  *    the near-duplicate searches find pairs.
  *  - embeddings: 1 000 unit-norm 64-d Gaussian vectors, labels 0..9.
  *
  * Documents and embeddings are smaller than sf0.1's (5 000 and 2 000) so
  * that a pass of the query mix fits a short run; events match sf0.1.
  *
  * The request mixes and query orders vary with the run seed; the data
  * does not, so query results can be pinned (pins.tsv).
  */
object DataGen {
  val DataSeed = 42L
  val Events = 100000
  val Users = 1500
  val Days = 30
  val Documents = 1500
  val Vectors = 1000
  val NearDupPct = 10
  val Dim = 64
  val StartMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Vocab = Array("a", "the", "data", "spark", "stream", "batch", "table",
    "row", "column", "key", "value", "query", "filter", "join", "group", "agg",
    "sort", "order", "scan", "hash", "merge", "window", "part", "line", "vector",
    "customer", "fast", "slow", "big", "small", "index")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  def write(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(DataSeed)
    save(spark, dir, "events", events(rnd.split()), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    save(spark, dir, "documents", documents(rnd.split()), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    save(spark, dir, "embeddings", embeddings(rnd.split()), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  private def save(spark: SparkSession, dir: Path, name: String, rows: Seq[Row],
                   schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  private def events(rnd: SplittableRandom): Seq[Row] = {
    val span = Days * 86400L * 1000000L
    val ts = Array.fill(Events)(StartMicros + rnd.nextLong(span))
    java.util.Arrays.sort(ts)
    ts.indices.map { i =>
      val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
      Row(i.toLong, micros(ts(i)), rnd.nextInt(Users).toLong,
        EventTypes(rnd.nextInt(EventTypes.length)), value,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  private def documents(rnd: SplittableRandom): Seq[Row] = {
    val docs = scala.collection.mutable.ArrayBuffer[(Array[String], String)]()
    (0 until Documents).map { i =>
      val (words, lang) =
        if (i > 0 && rnd.nextInt(100) < NearDupPct) {
          val (src, l) = docs(rnd.nextInt(i))
          val w = src.clone()
          for (_ <- 0 to rnd.nextInt(3)) w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
          (w, l)
        } else (Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))),
                Langs(rnd.nextInt(Langs.length)))
      docs += ((words, lang))
      val text = words.mkString(" ")
      Row(i.toLong, text, lang, s"src${rnd.nextInt(20)}", text.length.toLong)
    }
  }

  private def embeddings(rnd: SplittableRandom): Seq[Row] = {
    val g = new java.util.Random(rnd.nextLong())
    (0 until Vectors).map { i =>
      val v = Array.fill(Dim)(g.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
  }

  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
