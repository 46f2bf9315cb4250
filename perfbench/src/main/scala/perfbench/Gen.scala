package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows;
  * nothing here reads a fixture from disk. */
object Gen {

  /** The fixture corpus's 30-word vocabulary. Planted near-duplicates
    * also carry the rare "dup" marker, the BM25 query set's rare term. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents with ids `0 … n-1`. 5% are near-duplicates of an
    * earlier original document: a copy with the "dup" marker appended
    * and, in originals of 60+ words, one token replaced — Jaccard ≥ 0.8
    * over 3-word shingles, where 16×4 LSH finds every pair, so LSH and
    * the exact all-pairs oracle agree. Originals are 10–100 random words
    * (pairwise Jaccard near 0); 1% of documents are exact copies. */
  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val kind = rnd.nextInt(100)
      val t =
        if (originals.nonEmpty && kind < 5) {
          val src = originals(rnd.nextInt(originals.length)).clone()
          if (src.length >= 60) src(rnd.nextInt(src.length)) = Vocab(rnd.nextInt(Vocab.length))
          src :+ "dup"
        } else if (originals.nonEmpty && kind < 6)
          originals(rnd.nextInt(originals.length))
        else {
          val o = Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
          originals += o
          o
        }
      Doc(i, t.mkString(" "), Langs(rnd.nextInt(Langs.length)), s"src${i % 20}")
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      docSchema)
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** One 64-dim embedding per id: five label centroids plus noise, so the
    * dense leg's neighbours are meaningful. Ids align with doc ids. */
  def embFrame(spark: SparkSession, seed: Long, ids: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.Row
    val dim = graft.queries.SimilarityOps.Dim
    val cr = new java.util.SplittableRandom(seed * 31L + 5L)
    val centroids = Array.fill(5, dim)(cr.nextDouble() * 2 - 1)
    val rows = ids.map { id =>
      val r = new java.util.SplittableRandom(seed * 1000003L + id)
      val label = r.nextInt(5)
      val v = Array.tabulate(dim)(j =>
        (centroids(label)(j) * 0.3 + (r.nextDouble() * 2 - 1) * 0.7).toFloat)
      Row(id, v.toSeq, label)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), embSchema)
  }

  // ------------------------------------------------------------ tweets

  /** 64 hashtags drawn Zipf-like, as graft.StreamBench draws them. */
  val Tags: Array[String] = Array.tabulate(64)(i => s"tag$i")

  /** Ids of planted late events start here, so the on-time feed is
    * `id < LateIdBase`. */
  val LateIdBase = 1000000000000L

  /** Seeded tweet-line writer. Each line carries its event time `ts`
    * (epoch ms) and its creation time `ct` (epoch ms, the time the event
    * was due). ~1% of lines are malformed, ~8% of tweets carry no tag, and
    * 0.5% of the tweets, where `allowLate`, are replaced by an event
    * stamped `lateTs`, far behind the watermark. */
  final class TweetGen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed * 104729L + 3L)
    private var nextId = 1L
    private var nextLate = LateIdBase
    var lines = 0L
    var lateTagRows = 0L

    private def tag(): String =
      Tags(math.min(63, math.floor(math.pow(64.0, rnd.nextDouble()) - 1).toInt))

    /** Append one line to `sb`. */
    def line(sb: java.lang.StringBuilder, ts: Long, ct: Long,
        allowLate: Boolean, lateTs: Long): Unit = {
      lines += 1
      if (rnd.nextInt(100) == 0) { sb.append("{malformed line no json\n"); return }
      val late = allowLate && rnd.nextInt(1000) < 5
      val nTags = if (rnd.nextInt(100) < 8) 0 else 1 + rnd.nextInt(3)
      val tags = Array.fill(nTags)(tag())
      val id = if (late) { nextLate += 1; nextLate } else { nextId += 1; nextId }
      if (late) lateTagRows += nTags
      sb.append("{\"id\":").append(id)
        .append(",\"ts\":").append(if (late) lateTs else ts)
        .append(",\"ct\":").append(ct)
        .append(",\"text\":\"t").append(id)
      tags.foreach(t => sb.append(" #").append(t))
      sb.append("\",\"entities\":{\"hashtags\":[")
      var i = 0
      while (i < nTags) {
        if (i > 0) sb.append(',')
        sb.append("{\"text\":\"").append(tags(i)).append("\"}")
        i += 1
      }
      sb.append("]}}\n")
    }
  }

  /** Write `content` so a file-stream source never sees a partial file:
    * write under a hidden name, then rename into place. */
  def publish(dir: Path, name: String, content: String, mtimeMs: Long = -1L): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.writeString(tmp, content)
    if (mtimeMs >= 0)
      Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dir.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
