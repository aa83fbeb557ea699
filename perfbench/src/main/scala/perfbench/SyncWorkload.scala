package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.expr.SyncExprs
import graft.model.{Schemas, VendorApi, VendorSummary}
import graft.ops.{CatalogMatch, OptionAgg}
import graft.pipeline.SyncJob
import graft.sink.MergeWriter
import graft.sources.HttpSource

/** Sink wrapper that times the snapshot reads and writes `syncStore`
  * makes through it. */
final class TimedStore(inner: MergeWriter.SnapshotStore) extends MergeWriter.SnapshotStore {
  var readS = 0.0
  var writeS = 0.0
  private def timed[T](add: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add((System.nanoTime() - t0) / 1e9)
  }
  def read(spark: SparkSession): DataFrame = timed(readS += _)(inner.read(spark))
  def write(spark: SparkSession, df: DataFrame): Unit = timed(writeS += _)(inner.write(spark, df))
  override def supportsPartialWrite: Boolean = inner.supportsPartialWrite
  override def writeVendors(spark: SparkSession, df: DataFrame, vendors: Seq[String]): Unit =
    timed(writeS += _)(inner.writeVendors(spark, df, vendors))
}

/** `SyncJob.syncStore` into a parquet sink. A round is one initial
  * sync into an empty sink and then one incremental sync (Accumulate
  * mode) per further `payloads/<step>` directory of the generated
  * fleet, each fed that step's payloads by an in-memory fetcher: a
  * vendor with no payload file fails its fetch. There is no warm-up: the initial sync of a round is the
  * first a fresh service runs. */
final class SyncWorkload(data: String, runDir: File) extends Workload {

  private val now = Timestamp.valueOf("2024-06-01 00:00:00")
  private var creds: Seq[VendorApi] = Nil
  private var syncs = 0
  private var payloads: Map[(Int, String), String] = Map.empty

  private def fetcher(step: Int): HttpSource.Fetcher = api =>
    payloads.get((step, api.vendorId)) match {
      case Some(json) => Success(json)
      case None => Failure(new RuntimeException(s"vendor ${api.vendorId} unavailable"))
    }

  private def syncOnce(spark: SparkSession, step: Int,
      store: MergeWriter.SnapshotStore): Seq[VendorSummary] = {
    import spark.implicits._
    SyncJob.syncStore(spark, creds.toDS(), fetcher(step), store,
      MergeWriter.Accumulate, now = now).summary
  }

  def setup(spark: SparkSession, dir: File): Map[String, Double] = {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", new File(data, "catalog.parquet").getPath)
    creds = spark.read.schema(Schemas.vendorApi).json(new File(data, "creds.json").getPath)
      .as[VendorApi].collect().toSeq.sortBy(_.vendorId)
    syncs = new File(data, "payloads").list().length
    payloads = (0 until syncs).flatMap { s =>
      Option(new File(data, s"payloads/$s").listFiles()).toSeq.flatten.map { f =>
        (s, f.getName.stripSuffix(".json")) -> Files.readString(f.toPath)
      }
    }.toMap
    Map.empty
  }

  def warmup(spark: SparkSession): Unit = ()

  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Op] = {
    val sink = new File(runDir, s"rounds/r$r/sink")
    val pre = new File(runDir, s"rounds/r$r/pre")
    (0 until syncs).map { s =>
      val name = s"sync$s"
      val store = tracer.map(_ => new TimedStore(MergeWriter.ParquetStore(sink.getPath)))
      // traced: keep the pre-sync snapshot so the merge decomposition
      // below runs on the same inputs the sync merged
      if (tracer.isDefined) {
        org.apache.commons.io.FileUtils.deleteQuietly(pre)
        if (sink.exists()) org.apache.commons.io.FileUtils.copyDirectory(sink, pre)
      }
      val t0 = System.nanoTime()
      val res = try {
        val st = store.getOrElse(MergeWriter.ParquetStore(sink.getPath))
        Right(tracer match {
          case None => syncOnce(spark, s, st)
          case Some(tr) => tr.span(name)(syncOnce(spark, s, st))
        })
      } catch { case t: Throwable => Left(Main.errorOf(t)) }
      val secs = (System.nanoTime() - t0) / 1e9
      Main.log(f"round $r%d $name%s $secs%.2f s${res.left.toOption.fold("")(" " + _)}%s")
      val summary = res.toOption.getOrElse(Nil)
      val op = Op(r, tracer.isDefined, if (s == 0) "sync_initial" else "sync", name, secs,
        res.left.toOption, Map("step" -> s, "summary" -> summary.map(v => Map(
          "vendorId" -> v.vendorId, "database" -> v.database, "status" -> v.status,
          "fetched" -> v.totalFetched, "valid" -> v.validProducts,
          "skipped" -> v.skippedProducts, "inserted" -> v.newVendorProducts,
          "updated" -> v.updatedVendorProducts, "stock" -> v.totalStockProcessed,
          "operations" -> v.totalOperations, "error" -> v.error))))
      (tracer, store) match {
        case (Some(tr), Some(ts)) if res.isRight =>
          tr.drain()
          val eng = tr.engineLayers(tr.lastSpan(name))
          val changed = summary.map(_.totalOperations).sum.toDouble
          val okIds = summary.filter(_.status == "ok").map(_.vendorId)
          op.copy(layers = eng ++ Map(
            "pipeline.driver_s" -> eng("driver_s"),
            "pipeline.jobs_per_sync" -> eng("spark.jobs"),
            "sink.read_s" -> ts.readS, "sink.write_s" -> ts.writeS,
            "sink.write_mb" -> eng("out_mb"),
            "sink.rows_written" -> eng("out_records"), "sink.changed_rows" -> changed) ++
            decompose(spark, s, okIds, pre))
        case _ => op
      }
    }
  }

  /** The sync's stages re-run one by one on the sync's own inputs,
    * each materialized into the noop sink on cached inputs, after the
    * sync's span has closed. */
  private def decompose(spark: SparkSession, step: Int, okIds: Seq[String],
      pre: File): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val jsons = okIds.flatMap(v => payloads.get((step, v)).map(v -> _))
    var items: DataFrame = null
    val parseS = time {
      items = jsons.map { case (v, j) => HttpSource.parseItems(spark, v, j) }
        .reduce(_ unionByName _)
      noop(items)
    }
    val itemsC = items.cache(); itemsC.count()
    val enriched = OptionAgg.enrich(itemsC)
    val enrichS = time(noop(enriched))
    val enrichedC = enriched.cache(); enrichedC.count()
    val names = enrichedC.filter(col("vendorName") =!= "").select(col("vendorName")).distinct()
    val admin = SyncJob.readAdmin(spark)
    val matched = CatalogMatch.matchCatalog(names, admin)
    val matchS = time(noop(matched))
    val matchedC = matched.cache()
    val nNames = matchedC.count()
    val hits = matchedC.filter(col("admin_id").isNotNull).count()
    val exact = names.join(admin.select(SyncExprs.nameKey(col("name")).as("k")).distinct(),
      SyncExprs.nameKey(col("vendorName")) === col("k")).count()
    val incoming = OptionAgg.aggregate(enrichedC.join(matchedC, Seq("vendorName"), "left"))
    val aggregateS = time(noop(incoming))
    val incomingC = incoming.cache(); incomingC.count()
    val existing = MergeWriter.readSnapshot(spark, pre.getPath)
      .filter(col("vendorId").isin(okIds: _*))
    val mergeS = time(noop(MergeWriter.merge(existing, incomingC, MergeWriter.Accumulate, now)))
    Seq(incomingC, matchedC, enrichedC, itemsC).foreach(_.unpersist(true))
    Map("sources.parse_s" -> parseS, "ops.enrich_s" -> enrichS, "ops.match_s" -> matchS,
      "ops.aggregate_s" -> aggregateS, "sink.merge_s" -> mergeS,
      "ops.match_names" -> nNames.toDouble, "ops.match_hits" -> hits.toDouble,
      "ops.exact_hits" -> exact.toDouble)
  }
}
