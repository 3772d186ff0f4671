package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A surface workload: declared queries over local parquet, each once
  * per pass, with the connector bypassed.
  *
  * Set-up is session start and `graft.Bench`'s warm-up queries. It runs
  * neither prewarm: `PipelineQueries.prewarm` alone takes longer than a
  * run may, and `ExtendedQueries.prewarm` builds only the graph
  * artifacts of queries the sample does not contain (README:
  * Workloads). A sampled query that reads a memoized artifact builds it
  * the first time the untimed warm-up pass runs it.
  *
  * @param dir the parquet tables the queries read
  */
final class Surface(dir: String) extends Workload {
  override def setUp(spark: SparkSession): Unit = Workload.warmUp(spark)

  override val ops: Seq[Op] = Surface.small.map { n =>
    Op(n, Surface.family(n), s => SparkEntry.queries(n)(s, dir), SparkEntry.oracleSql.get(n))
  }
}

object Surface {
  /** A query's family: the letters its code starts with (`dd` for
    * `dd7_curation_pipeline`). */
  def family(name: String): String = name.takeWhile(_.isLetter)

  /** Queries `PipelineQueries.prewarm` runs by name to write their
    * standing layouts; without that prewarm their first run builds the
    * layout, so `surface_small` leaves them out. */
  val LayoutQueries: Set[String] = Set("ss21", "ss22", "ss23", "ss24", "ss25", "ss27",
    "ss28", "ss29", "ss30", "ss33", "t32", "t35", "t37", "t39", "t40")

  /** `surface_small`: one query in every `SmallStride` of the declared
    * queries in name order, less `share_*` and [[LayoutQueries]], so
    * every family is sampled in proportion to its size. */
  val SmallStride = 24
  def small: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("share_") || LayoutQueries.contains(n.takeWhile(_ != '_')))
      .zipWithIndex.collect { case (n, i) if i % SmallStride == 0 => n }
}
