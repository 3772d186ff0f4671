package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side reader for the 1-row parquet MARKER artifacts (`_meta`,
  * `_fold_intent`, `_fold_done`). These are metadata, not data: every
  * layout probe must read them (the fold-guard contract), and doing it
  * through `spark.read.parquet(...).head()` costs a full analyzer
  * source resolution (~50 ms, measured — Spark 4 resolves each read
  * call in `ResolveDataSource`) plus a scheduled one-task job
  * (~100 ms) PER MARKER, i.e. ~0.3 s of pure overhead per probed
  * layout. Reading the single row with parquet-hadoop on the driver is
  * ~5 ms, scale-independent (the marker is 1 row at any corpus size —
  * this is exactly the "driver reads table metadata" shape every
  * lakehouse format uses), and byte-identical: same files, same
  * values, same loud failure on a corrupt marker. */
private[graft] object DriverParquet {

  /** Read the named int64 fields of the single row under `dir`.
    * Scans the part files in name order and returns the first row
    * found (the artifacts are written as exactly one row; empty part
    * files from over-partitioned writes are skipped). Throws on a
    * missing directory or unreadable files; zero rows, or a field that
    * is missing or not int64 (an INT32 marker), throw an
    * IllegalStateException naming the marker dir. Callers map those
    * to their own absent/corrupt semantics. */
  def headLongs(spark: SparkSession, dir: String,
      fields: Seq[String]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      })
      .sortBy(_.getPath.getName)
    parts.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          st.getPath)
        .withConf(conf).build()
      try {
        val g = reader.read()
        if (g != null) return fields.map(f =>
          try g.getLong(f, 0)
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"marker $dir: field $f is not a readable int64", e)
          })
      } finally reader.close()
    }
    throw new IllegalStateException(
      s"marker $dir holds no rows (expected exactly one)")
  }

  def headLong(spark: SparkSession, dir: String, field: String): Long =
    headLongs(spark, dir, Seq(field)).head
}
