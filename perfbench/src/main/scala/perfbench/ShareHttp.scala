package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaShare, DeltaSharingClient, DeltaSharingProfile, FileStats}
import graft.sources.testing.StubSharingServer

/** `share_http`: the Delta Sharing client's own job. A table of
  * `l_orderkey`-range parquet files with true per-file stats is listed
  * by the sharing test server over REST (behind a recording front) and
  * served by the benchmark's object-store stand-in, and three op types
  * read it through `format("deltashare")`:
  *
  *  - `scan_full`: a projected scan of every file (bulk bytes);
  *  - `scan_pruned`: a seeded key range plus a residual filter that
  *    stats-prune to at most two files, half of them ORDER BY … LIMIT;
  *  - `catalog`: the listShares → listSchemas → listTables walk plus a
  *    COUNT/MIN/MAX the connector answers from the stats alone.
  *
  * @param shareDir the re-laid files and their `manifest.json`
  */
final class ShareHttp(shareDir: String, seed: Long, cpus: Int) extends Workload {
  import ShareHttp._

  private val manifest = readManifest(Paths.get(shareDir))
  private val store = new ObjectStore(
    manifest.map(f => s"/$Table/${f.name}" -> Files.readAllBytes(Paths.get(shareDir, f.name))).toMap,
    FirstByteMs, cpus).start()
  private val byUrl = manifest.map(f => store.url(s"/$Table/${f.name}") -> f).toMap

  @volatile private var stub: StubSharingServer = _
  @volatile private var front: RestFront = _
  @volatile private var listed = 0

  override def setUp(spark: SparkSession): Unit = {
    Workload.warmUp(spark)
    stub = new StubSharingServer(expectedToken = Token).start()
    val schema = spark.read.parquet(Paths.get(shareDir, manifest.head.name).toString).schema
    stub.tables = Map(Table -> ((schema.json, Seq.empty[String],
      byUrl.toSeq.sortBy(_._2.name).map { case (u, f) => (u, f.size, Map.empty[String, String]) })))
    stub.fileStats = byUrl.map { case (u, f) =>
      u -> FileStats.statsJson("l_orderkey", f.rows, f.minKey, f.maxKey) }
    front = new RestFront(stub.endpoint, cpus).start()
    spark.conf.set(DeltaSharingProfile.EndpointConf, front.endpoint)
    spark.conf.set(DeltaSharingProfile.TokenConf, Token)
    // ready to serve: the table answers a listing
    listed = new DeltaSharingClient(DeltaSharingProfile(front.endpoint, Token))
      .queryTable(Share, Schema, Table).files.size
    require(listed == manifest.size, s"server lists $listed files, expected ${manifest.size}")
  }

  override def tearDown(): Unit = {
    if (front != null) front.stop()
    if (stub != null) stub.stop()
  }

  override def close(): Unit = { tearDown(); store.stop() }

  override def filesListed: Int = listed

  override def bytesNeeded(url: String, columns: Seq[String]): Long =
    byUrl.get(url.split('?').head).map(f => columns.map(c => f.columnBytes.getOrElse(c, 0L)).sum)
      .getOrElse(0L)

  override def drainBoundary(): Seq[BoundarySpan] =
    (if (front == null) Nil else front.drain().map(c =>
      BoundarySpan("client", c.kind, c.startNs, c.endNs, 0L))) ++
      store.drainLog().map(g => BoundarySpan("objstore", "get", g.startNs, g.endNs, g.bytes))

  private def shared(spark: SparkSession): DataFrame =
    spark.read.format("deltashare")
      .option("endpoint", front.endpoint).option("bearerToken", Token)
      .load(s"$Share.$Schema.$Table")

  override val ops: Seq[Op] = plan(manifest, seed).map {
    case FullScan(i) =>
      Op(s"scan_full_$i", "scan_full",
        s => shared(s).select(FullCols.map(col): _*),
        Some(s"SELECT ${FullCols.mkString(", ")} FROM lineitem"), aggCheck = true)
    case Pruned(i, lo, hi, minQty, limit) =>
      val where = s"l_orderkey BETWEEN $lo AND $hi AND l_quantity >= $minQty"
      val filtered = (s: SparkSession) => shared(s)
        .filter(col("l_orderkey").between(lo, hi) && col("l_quantity") >= minQty)
        .select(PrunedCols.map(col): _*)
      limit match {
        case None =>
          Op(s"scan_pruned_$i", "scan_pruned", filtered,
            Some(s"SELECT ${PrunedCols.mkString(", ")} FROM lineitem WHERE $where"),
            aggCheck = true)
        case Some(k) =>
          Op(s"scan_pruned_$i", "scan_pruned",
            s => filtered(s).orderBy(TopNOrder.map(c =>
              if (c.endsWith(" DESC")) col(c.stripSuffix(" DESC")).desc else col(c)): _*).limit(k),
            Some(s"SELECT ${PrunedCols.mkString(", ")} FROM lineitem WHERE $where " +
              s"ORDER BY ${TopNOrder.mkString(", ")} LIMIT $k"))
      }
    case Catalog(i) =>
      Op(s"catalog_$i", "catalog", s => {
        def names(df: DataFrame) = df.select("name").collect().map(_.getString(0)).toSet
        require(names(DeltaShare.listShares(s)).contains(Share), s"share $Share not listed")
        require(names(DeltaShare.listSchemas(s, Share)).contains(Schema), s"schema $Schema not listed")
        require(names(DeltaShare.listTables(s, Share, Schema)).contains(Table), s"table $Table not listed")
        shared(s).agg(count(lit(1)).as("n_rows"), min("l_orderkey").as("min_key"),
          max("l_orderkey").as("max_key"))
      }, Some("SELECT count(*) AS n_rows, min(l_orderkey) AS min_key, " +
        "max(l_orderkey) AS max_key FROM lineitem"))
  }
}

object ShareHttp {
  val Share = "share1"
  val Schema = "schema1"
  val Table = "lineitem_ranges"
  val Token = "perfbench"
  /** The object store's fixed first-byte latency per GET. */
  val FirstByteMs = 10L
  val FullCols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
  val PrunedCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
  /** A total order on the projected columns, so LIMIT picks one row set. */
  val TopNOrder = Seq("l_extendedprice DESC", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  /** Op counts of one pass. */
  val FullScans = 1
  val PrunedScans = 6
  val Catalogs = 3

  /** One re-laid file: its rows, `l_orderkey` range and the compressed
    * bytes of each column chunk, read from its footer. */
  final case class FileEntry(name: String, size: Long, rows: Long, minKey: Long,
      maxKey: Long, columnBytes: Map[String, Long])

  def readManifest(dir: Path): Seq[FileEntry] = {
    val root = new ObjectMapper().readTree(dir.resolve("manifest.json").toFile)
    root.get("files").elements().asScala.map { f =>
      FileEntry(f.get("name").asText, f.get("size").asLong, f.get("rows").asLong,
        f.get("min_key").asLong, f.get("max_key").asLong,
        f.get("column_bytes").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
    }.toSeq.sortBy(_.minKey)
  }

  sealed trait Planned
  final case class FullScan(i: Int) extends Planned
  /** Keys `[lo, hi]` inside one file or two adjacent files. */
  final case class Pruned(i: Int, lo: Long, hi: Long, minQty: Int, limit: Option[Int])
      extends Planned
  final case class Catalog(i: Int) extends Planned

  /** The op parameters one seed gives: the same seed, the same ranges. */
  def plan(files: Seq[FileEntry], seed: Long): Seq[Planned] = {
    val rng = new scala.util.Random(seed)
    def within(f: FileEntry) = f.minKey + (rng.nextDouble() * (f.maxKey - f.minKey)).toLong
    val pruned = (0 until PrunedScans).map { i =>
      val first = rng.nextInt(files.size - 1)
      val last = first + rng.nextInt(2)
      val (a, b) = (within(files(first)), within(files(last)))
      Pruned(i, math.min(a, b), math.max(a, b), 1 + rng.nextInt(40),
        if (i % 2 == 1) Some(10 + rng.nextInt(91)) else None)
    }
    (0 until FullScans).map(FullScan) ++ pruned ++ (0 until Catalogs).map(Catalog)
  }
}
