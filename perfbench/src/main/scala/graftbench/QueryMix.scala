package graftbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** One query of the mix, its module group and the fingerprint its output
  * had when the list was recorded.
  */
final case class MixQuery(group: String, name: String, rows: Long, hash: String)

object MixQuery {
  /** `group<TAB>name<TAB>rows<TAB>hash` per line; `#` starts a comment. */
  def load(file: java.io.File): Seq[MixQuery] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(g, n, r, h) => MixQuery(g, n, r.toLong, h)
        case _ => sys.error(s"bad query line: $l")
      }
    }.toList
    finally src.close()
  }

  /** Output fingerprint: row count plus an order-insensitive hash (the
    * decimal sum of per-row xxhash64 values). Floating-point values are
    * rounded to 9 significant digits first, so a sum whose last bits
    * depend on task order still fingerprints the same.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        when(c.isNull, lit(null)).otherwise(format_string("%.9g", c.cast(DoubleType)))
      case ArrayType(e, _) => transform(c, x => norm(x, e))
      case StructType(fs) =>
        when(c.isNull, lit(null)).otherwise(struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
      case MapType(_, _, _) => c.cast(StringType)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}

/** `query_mix`: the listed `SparkEntry.queries` over the benchmark's copy
  * of the sf0.01 tables, in a seed-shuffled order. Each timed query is
  * consumed whole by its fingerprint (every column of every row is hashed),
  * and the fingerprint is the output check.
  */
final class QueryMix(seed: Long, dataDir: String, list: Seq[MixQuery]) extends Workload {
  private val rnd = new Random(seed)
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  private def run(q: MixQuery): (Long, String) =
    MixQuery.fingerprint(SparkEntry.queries(q.name)(spark, dataDir))

  /** Untimed: the query the set-up runs, so the timed set-ups do not pay
    * its first run in the JVM.
    */
  override def warmup(s: SparkSession): Unit = {
    spark = s
    run(list.head)
  }

  /** Untimed: one whole pass in the measured session. A query's first run
    * in a session pays JIT, codegen and file-listing costs (about 1.5 to
    * 2 times the later runs'), so without it the first timed pass would be
    * slower than the rest and the medians would follow how many passes
    * fit in the run.
    */
  override def prime(): Unit = list.foreach(run)

  /** Session start plus the first query, which reads the tables' footers. */
  override def setup(s: SparkSession, t: Option[Tracer]): Unit = {
    spark = s
    run(list.head)
    tracer = t
  }

  override def pass(r: Recorder): Unit = {
    val order = rnd.shuffle(list)
    val t0 = System.nanoTime()
    order.foreach { q =>
      spark.sparkContext.setLocalProperty(EngineListener.groupKey, q.group)
      val q0 = System.nanoTime()
      val (rows, hash) = tracer.fold(run(q))(_.span(s"query.${q.group}.${q.name}")(run(q)))
      r.op((System.nanoTime() - q0) / 1e6)
      tracer.foreach(_.step += 1)
      r.check(q.name,
        if (rows == q.rows && hash == q.hash) Nil
        else Seq(s"rows $rows hash $hash, recorded ${q.rows} ${q.hash}"))
    }
    spark.sparkContext.setLocalProperty(EngineListener.groupKey, null)
    r.pass((System.nanoTime() - t0) / 1e9)
  }

  override def teardown(): Unit = ()
}
