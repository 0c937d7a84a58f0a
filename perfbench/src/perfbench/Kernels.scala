package perfbench

import graft.functions.TextFns
import graft.hashing.{BpeUtil, MinHashUtil, ShingleUtil, SimHashUtil, TextStatsUtil}
import graft.operators.{Bpe, Media}
import graft.tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread cost of the per-row kernels, called directly on a fixed
  * sample read once: the first 400 documents (by doc_id) and 200
  * synthetic images. Same parameters as the dedup/BPE/pHash operators. */
object Kernels {
  private val Docs = 400
  private val Images = 200

  def measure(s: SparkSession, dir: String): Map[String, Double] = {
    val docs = tables.documents(s, dir).toNative.where(col("doc_id") < Docs)
    val rows = docs.orderBy("doc_id")
      .select(col("text"), TextFns.wsTokens(TextFns.normText(col("text"))).as("tok"))
      .collect()
    val texts = rows.map(r => UTF8String.fromString(r.getString(0)))
    val tokens: Array[ArrayData] = rows.map(r =>
      new GenericArrayData(r.getSeq[String](1).map(UTF8String.fromString).toArray[Any]))
    val shingles = tokens.map(t => distinct(ShingleUtil.shingles(t, 3)))
    val merges = Bpe.fitMergesBytes(docs, col("text"), numMerges = 40)
    val table = new BpeUtil.Table(merges.flatMap { case (a, b) => Seq(a, b) }.toArray)
    val images = (0 until Images).map(i => Media.syntheticPixelImage(i.toLong)).toArray

    Map(
      "minhash_us" -> perItemUs(shingles.length)(i =>
        MinHashUtil.bandBuckets(shingles(i), 128, 64).getLong(0)),
      "simhash_us" -> perItemUs(tokens.length)(i => SimHashUtil.simhash(tokens(i))),
      "bpe_us" -> perItemUs(texts.length)(i => BpeUtil.countBytes(texts(i), table)),
      "textstats_us" -> perItemUs(texts.length)(i => TextStatsUtil.stats(texts(i)).getInt(0).toLong),
      "phash_us" -> perItemUs(images.length)(i =>
        Media.RealPixelDecoder.decodeGray32(images(i)).map(Media.phash64).getOrElse(0L)))
  }

  private def distinct(a: ArrayData): ArrayData =
    new GenericArrayData(a.toSeq[UTF8String](org.apache.spark.sql.types.StringType)
      .distinct.toArray[Any])

  /** Median µs per item over timed sweeps of the sample, after 0.8 s of
    * untimed sweeps: the workload may not have run this kernel yet, and
    * the image decoders need that long to reach compiled code. */
  private def perItemUs(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    def sweep(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0) / 1e3 / n
    }
    val warmEnd = System.nanoTime() + 800000000L
    while (System.nanoTime() < warmEnd) sweep()
    val samples = Array.fill(9)(sweep()).sorted
    if (sink == 42L) System.err.print("")
    samples(samples.length / 2)
  }
}
