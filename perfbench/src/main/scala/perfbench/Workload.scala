package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{NumericType, StringType}

/** One operation of a workload.
  *
  * @param id    unique within the workload's op list
  * @param kind  op type (`share_http`) or query family (surface workloads)
  * @param build constructs the op's DataFrame; timed together with the
  *              noop write that consumes it
  * @param sql   DuckDB SQL with the same output over the same parquet
  *              tables; `None` checks the row count only
  * @param aggCheck compare an aggregate digest of the output instead of
  *              every row, for ops whose output is a bulk scan
  */
final case class Op(id: String, kind: String, build: SparkSession => DataFrame,
    sql: Option[String], aggCheck: Boolean = false) {

  /** The frame whose content the output check compares. */
  def checkFrame(df: DataFrame): DataFrame =
    if (aggCheck) df.selectExpr(Op.aggExprs(df): _*) else df
}

object Op {
  /** Row count plus, per column, an exact sum (numbers as
    * DECIMAL(38,4), strings by length): SQL both Spark and DuckDB
    * evaluate to the same values. */
  def aggExprs(df: DataFrame): Seq[String] =
    "count(*) AS n" +: df.schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[NumericType] =>
        s"sum(CAST(${f.name} AS DECIMAL(38,4))) AS s_${f.name}"
      case f if f.dataType == StringType =>
        s"sum(length(${f.name})) AS l_${f.name}"
    }
}

/** A boundary event the benchmark records outside the engine: a REST
  * call (`client`) or an object-store GET (`objstore`). */
final case class BoundarySpan(layer: String, kind: String, startNs: Long,
    endNs: Long, bytes: Long)

/** A named workload: program set-up plus a seeded op list. */
trait Workload {
  /** Program set-up on a fresh session, timed as `setup_s`. */
  def setUp(spark: SparkSession): Unit

  /** Release what `setUp` started, before the next set-up. */
  def tearDown(): Unit = ()

  /** The op list one pass runs, derived from the seed. */
  def ops: Seq[Op]

  /** Boundary spans recorded since the last call. */
  def drainBoundary(): Seq[BoundarySpan] = Nil

  /** Files the sharing server lists for a scan; 0 without a connector. */
  def filesListed: Int = 0

  /** Projected-column chunk bytes of the file behind `url`, for
    * `objstore.bytes_needed_mb`. */
  def bytesNeeded(url: String, columns: Seq[String]): Long = 0L

  /** Stops benchmark-owned servers; called once at exit. */
  def close(): Unit = ()
}

object Workload {
  /** The session every workload runs on, configured as `graft.Bench`
    * configures its own. */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    .getOrCreate()

  /** `graft.Bench`'s synthetic warm-up queries: shuffle, aggregation
    * and higher-order-function codegen paths. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.sum
    spark.range(1000).selectExpr("id % 7 k", "id v").groupBy("k").agg(sum("v")).collect()
    spark.range(100).selectExpr(
      "aggregate(transform(sequence(1, 5), x -> x * id), 0L, (a, b) -> a + b) s")
      .agg(sum("s")).collect()
  }
}
