package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** A fixed list of registry queries, each run once per round after
  * `clearCache` and collected to the driver, in name order. After its
  * timing each result is written as parquet under
  * `<run>/check/r<round>/<query>` for the oracle check. Set-up runs
  * every listed query that builds a derived-index or cached root under
  * java.io.tmpdir (`DerivedState`), so no timed run finds or misses
  * one. The warm-up runs `warmupQuery`, which is not listed, so the
  * first timed query does not absorb the JVM's first Spark jobs. */
final class QueryWorkload(data: String, runDir: File, val names: Seq[String],
    warmupQuery: String) extends Workload {

  private val registry = SparkEntry.queries
  require(names.forall(registry.contains), s"unknown query in $names")
  require(registry.contains(warmupQuery) && !names.contains(warmupQuery))
  private val derived = names.filter(QueryWorkload.DerivedState.contains)

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def setup(spark: SparkSession, dir: File): Map[String, Double] =
    derived.map { n =>
      val t0 = System.nanoTime()
      noop(registry(n)(spark, data))
      spark.catalog.clearCache()
      val secs = (System.nanoTime() - t0) / 1e9
      Main.log(f"set-up $n%s $secs%.2f s")
      n -> secs
    }.toMap

  def warmup(spark: SparkSession): Unit = {
    noop(registry(warmupQuery)(spark, data))
    spark.catalog.clearCache()
  }

  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Op] = {
    val ops = names.sorted.map { n =>
      spark.catalog.clearCache()
      val fn = registry(n)
      var result: Option[(Array[Row], StructType)] = None
      val t0 = System.nanoTime()
      val error = try {
        tracer match {
          case None =>
            val df = fn(spark, data)
            result = Some((df.collect(), df.schema))
          case Some(tr) => tr.span(n) {
            val df = tr.span("build")(fn(spark, data))
            result = Some((tr.span("exec")(df.collect()), df.schema))
          }
        }
        None
      } catch { case t: Throwable => Some(Main.errorOf(t)) }
      val secs = (System.nanoTime() - t0) / 1e9
      Main.log(f"round $r%d $n%s $secs%.2f s${error.fold("")(" " + _)}%s")
      result.foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .write.mode("overwrite").parquet(new File(runDir, s"check/r$r/$n").getPath)
      }
      Op(r, tracer.isDefined, "query", n, secs, error)
    }
    spark.catalog.clearCache()
    tracer match {
      case None => ops
      case Some(tr) =>
        tr.drain()
        ops.map { op =>
          val s = tr.lastSpan(op.name)
          val build = tr.spans.filter(x => x.parent == s.id && x.name == "build")
          val exec = tr.spans.filter(x => x.parent == s.id && x.name == "exec")
          val eng = tr.engineLayers(s)
          val eager = build.map(b => tr.jobsUnder(b.id).size).sum
          op.copy(layers = eng ++ Map(
            "queries.build_s" -> build.map(b => (b.end - b.start) / 1e3).sum,
            "queries.exec_s" -> exec.map(e => (e.end - e.start) / 1e3).sum,
            "queries.eager_jobs" -> eager.toDouble,
            "queries.driver_only_s" -> eng("driver_s")))
        }
    }
  }

  /** The oracle SQL of the listed queries; register-gated oracles
    * exist only once their query has run in this JVM. */
  override def finish(spark: SparkSession): Unit = {
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    val dir = new File(runDir, "check"); dir.mkdirs()
    java.nio.file.Files.write(new File(dir, "oracle_sql.json").toPath,
      Json.render(oracle).getBytes("UTF-8"))
  }
}

object QueryWorkload {
  private val Curation = Seq("ann", "dedup", "emb", "g", "t")

  /** Queries that build a derived-index root (`VectorIndex.ensure`) or
    * a cached root (the docstore bootstrap) on first use. */
  val DerivedState = Set("ann_ivf_stored", "ann_pq_stored", "ann_ivfpq_stored",
    "ann_ivf_staleness", "ann_ivf_del", "ann_graph_topk", "ann_graph_batch",
    "ann_graph_del", "g5_components_inc", "g7_components_del", "s8_docstore_scan")

  /** Queries whose result cannot be compared exactly with their oracle
    * on generated tables (README.md, "Findings"): the exact-quantile
    * routes, whose interpolated quantile can fall on a half cent that
    * Spark's and DuckDB's `round` resolve differently, and the
    * hyperplane-LSH near-dup path, whose recall is below 1 by design. */
  val Unchecked = Set("q_quantiles", "q_quantiles_auto", "q_quantiles_twophase",
    "emb_near_dup_lsh")

  /** Scan, aggregate, window and join plans with a high fixed
    * per-query cost: every fifth of the 60 queries outside the
    * curation families, in name order; an `Unchecked` pick gives way
    * to the next checkable name. */
  def relational(data: String, runDir: File) = {
    val pool = SparkEntry.queries.keys.filter(n => !Curation.exists(n.startsWith)).toSeq.sorted
    new QueryWorkload(data, runDir,
      pool.indices.filter(_ % 5 == 0).map(i => pool.drop(i).find(n => !Unchecked(n)).get),
      warmupQuery = "q1_pricing_summary")
  }

  /** Text, vector and graph curation: one query per kernel or route
    * family (see README.md), including one stored ANN index. */
  def curation(data: String, runDir: File) = new QueryWorkload(data, runDir,
    Seq("ann_brute_topk", "ann_pq_stored", "dedup_simhash", "emb_near_dup",
      "emb_kmeans", "g1_pagerank", "t_lang_id", "t_source_overlap_minhash"),
    warmupQuery = "t_fingerprint")
}
