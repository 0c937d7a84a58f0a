package perfbench

import graft.{GSchema, SparkEntry, Validator, tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** Row count plus an order-insensitive hash over every output column. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  /** Runs the frame's own physical plan once and hashes every row on the
    * executors, so this untimed pass also warms exactly the plan the
    * timed passes run. Floating-point cells are hashed through a
    * 10-significant-digit rendering, so a last-bit difference from a
    * different partial-merge order cannot flip the hash. */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val (rows, sum) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = BigInt(0)
      it.foreach { r => n += 1; s += rowHash(r, schema) }
      Iterator((n, s))
    }.collect().foldLeft((0L, BigInt(0))) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fingerprint(rows, sum.toString)
  }

  def ofStrings(values: Seq[String]): Fingerprint =
    Fingerprint(values.size, values.map(v => BigInt(hash(v))).sum.toString)

  private def rowHash(r: InternalRow, schema: StructType): Long =
    hash(schema.fields.indices.map { i =>
      val t = schema.fields(i).dataType
      canon(CatalystTypeConverters.convertToScala(r.get(i, t), t))
    }.mkString("\u0001"))

  private def hash(s: String): Long = {
    val b = s.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => "%.9e".format(d)
    case f: Float => "%.9e".format(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }
}

/** What a step built. `plan` forces physical planning, `exec`
  * materialises every output column and returns the row count. */
sealed trait Target {
  def plan(): Unit
  def exec(): Long
  def fingerprint(): Fingerprint
  /** The executed plan, read after `exec` (the final AQE plan). */
  def executedPlan: Option[SparkPlan]
}

final class FrameTarget(df: DataFrame) extends Target {
  def plan(): Unit = df.queryExecution.executedPlan
  def exec(): Long = df.queryExecution.toRdd.count()
  def fingerprint(): Fingerprint = Fingerprint.of(df)
  def executedPlan: Option[SparkPlan] = Some(df.queryExecution.executedPlan)
}

/** One-job value validation of a typed table; the output is the list of
  * violations (empty on the generated data). */
final class ValidateTarget(df: DataFrame, schema: GSchema) extends Target {
  def plan(): Unit = ()
  def exec(): Long = Validator.collectViolations(df, schema).size.toLong
  def fingerprint(): Fingerprint =
    Fingerprint.ofStrings(Validator.collectViolations(df, schema).map(_.toString))
  def executedPlan: Option[SparkPlan] = None
}

/** Runs `body` as a named sub-phase of the current phase (traced runs
  * give it its own span; untraced runs just run it). */
trait Sub { def apply[A](name: String)(body: => A): A }

final case class Step(name: String, build: (SparkSession, String, Sub) => Target)

object Workloads {
  private def query(name: String): Step =
    Step(name, (s, dir, _) => new FrameTarget(SparkEntry.queries(name)(s, dir)))

  private def validate(table: String, schema: GSchema,
                       read: (SparkSession, String) => DataFrame): Step =
    Step(s"validate_$table", (s, dir, _) => new ValidateTarget(read(s, dir), schema))

  /** `SparkEntry.queries("dedup_incremental")` spelled out from the same
    * public phase thunks, so the index-write phase gets its own span. */
  private val incremental = Step("dedup_incremental", { (s, dir, sub) =>
    val (cut, writeIndex, query) = SparkEntry.incrementalPhases(s, dir)
    cut()
    sub("index_write")(writeIndex())
    new FrameTarget(query().select("doc_id").orderBy("doc_id"))
  })

  val typedQueries: Seq[String] = Seq(
    "q1_agg", "q2_filter_sort", "q3_join_agg", "q4_left_join", "q5_multi_join",
    "q6_conditional", "q7_string_ops", "q8_date_ops", "q9_window", "q10_null_handling",
    "q11_distinct", "q12_concat", "q13_cast_schema", "q14_agg_global", "q15_semi_join",
    "q16_anti_join", "q17_list_ops", "q18_events_window", "q19_sliding_window",
    "q20_window_ranks")

  val all: Map[String, Seq[Step]] = Map(
    "typed_tpch" -> (typedQueries.map(query) ++ Seq(
      validate("lineitem", tables.Lineitem, (s, d) => tables.lineitem(s, d).toNative),
      validate("orders", tables.Orders, (s, d) => tables.orders(s, d).toNative),
      validate("customer", tables.Customer, (s, d) => tables.customer(s, d).toNative))),
    "llm_prep" -> Seq(query("dedup_jaccard"), query("corpus_prep_near"), incremental,
      query("pack_write")))
}
