package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.DQManager
import graft.checks._
import graft.core.{FreshnessPeriod, SeverityLevel}
import graft.dedup.Dedup
import graft.operators.Profiler
import graft.similarity.AnnIndex
import graft.sources.CachedParquet
import graft.streaming.StreamingAnnIngest
import graft.text.TextAnalysis

/** One full pass of a workload: from the generated inputs to every output
  * materialized.  Each pass reads only `ctx.data` and writes only under
  * `ctx.passDir`, which is fresh for every pass. */
trait Workload { def pass(ctx: Ctx): Unit }

object Workloads {
  val all: Map[String, Workload] =
    Map("dq_suite" -> DqSuite, "standing_ingest" -> StandingIngest)

  private val Sev = SeverityLevel.High

  def read(ctx: Ctx, name: String): DataFrame =
    ctx.eager("sources", "CachedParquet.read")(CachedParquet.read(ctx.spark, ctx.path(name)))

  /** Data-quality suite over a lineitem replica: one DQManager with every
    * check dimension, its fused metrics job, the valid and per-check
    * invalid splits written out, plus drift and profile. */
  object DqSuite extends Workload {
    def pass(ctx: Ctx): Unit = {
      val li = read(ctx, "lineitem.parquet")
      val orders = read(ctx, "orders.parquet")
      val anchor = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
      val mgr = new DQManager(ctx.spark, "lineitem").setData(li)
        .addCheck(new CompletenessColRatioCheck("lineitem", "b", Sev, "completeness",
          Seq("l_shipdate", "l_returnflag", "l_quantity"), 0.95))
        .addCheck(new CompletenessRawRatioCheck("lineitem", "b", Sev, "raw_completeness",
          Seq("l_shipdate", "l_returnflag"), 0.95))
        .addCheck(new ValidityCheck("lineitem", "b", Sev, "validity",
          col("l_quantity").between(1.0, 50.0) && col("l_discount").between(0.0, 0.1), 0.9))
        .addCheck(new AccuracyCheck("lineitem", "b", Sev, "accuracy",
          col("l_extendedprice") > 0.0 && col("l_tax") >= 0.0, 0.99))
        .addCheck(new FreshnessCheck("lineitem", "b", Sev, "freshness", "l_shipdate",
          FreshnessPeriod.Day, 1095.0, anchor = Some(anchor)))
        .addCheck(new ConsistencyCheck("lineitem", "b", Sev, "consistency",
          Seq("l_orderkey"), orders, Seq("o_orderkey")))
        // last in the fold: its valid split keeps one arbitrary row per key
        .addCheck(new UniqueCheck("lineitem", "b", Sev, "uniqueness", Seq("l_orderkey")))
      val res = ctx.eager("checks", "DQManager.run")(mgr.run())
      ctx.op("checks", "ResultObj.getMetricResults", "dq_metrics") {
        res.getMetricResults.select("metric_name", "column", "value_double")
      }
      ctx.op("checks", "ResultObj.getValidDf", "dq_valid", write = true)(res.getValidDf)
      ctx.op("checks", "ResultObj.getInvalidUnionDf", "dq_invalid", write = true) {
        res.getInvalidUnionDf("failed_check")
      }
      ctx.op("checks", "UniqueCheck.invalidGroups", "dq_dup_groups") {
        new UniqueCheck("lineitem", "b", Sev, "dup_keys", Seq("l_orderkey", "l_linenumber"))
          .invalidGroups(li)
      }
      ctx.op("checks", "DriftCheck.psiDf", "dq_drift") {
        new DriftCheck("lineitem", "b", Sev, "price_drift", "l_extendedprice",
          baselineDf = li.filter(col("l_shipdate") < "1995-01-01"),
          lo = 0.0, hi = 110000.0, nBins = 20)
          .psiDf(li.filter(col("l_shipdate") >= "1995-01-01"))
      }
      ctx.op("operators", "Profiler.profileRow", "dq_profile") {
        Profiler.profileRow(li, Seq("l_quantity", "l_extendedprice", "l_discount"))
      }
    }
  }

  /** One day of a standing ingest.  The state as it stands is rebuilt first
    * (the index over the base vectors, the dedup catalog of the history
    * documents, persisted with the atomic write); then today's batch runs
    * its boilerplate report, incremental curation against the persisted
    * catalog, the atomic catalog write, a versioned ANN append, a delete
    * set, the maintenance step (catalog compaction and ANN store
    * compaction) and a search on the current index.  State lives under the
    * pass directory, so every pass starts from a fresh catalog and index
    * base. */
  object StandingIngest extends Workload {
    def pass(ctx: Ctx): Unit = {
      val spark = ctx.spark
      val db = s"bench_p${ctx.pass}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '${ctx.passDir}/warehouse'")
      spark.catalog.setCurrentDatabase(db)
      try run(ctx) finally spark.catalog.setCurrentDatabase("default")
    }

    private def run(ctx: Ctx): Unit = {
      val spark = ctx.spark
      val base = s"${ctx.passDir}/ann"
      val evalDocs = read(ctx, "eval.parquet")
      val queries = read(ctx, "queries.parquet")
      ctx.eager("similarity", "AnnIndex.buildVersioned") {
        AnnIndex.buildVersioned(read(ctx, "base_vectors.parquet"), "vec_id", "embedding",
          base, dim = 64, nLists = 16)
      }
      val history = read(ctx, "history.parquet")
      ctx.eager("dedup", "Dedup.dedupCatalogWriteAtomic") {
        Dedup.dedupCatalogWriteAtomic(Dedup.dedupCatalogOfBatch(history, "doc_id", "text", 0L), "catalog")
      }
      ctx.group("streaming", "batch") {
        val batch = read(ctx, "batch.parquet")
        ctx.op("text", "TextAnalysis.boilerplateStats", "si_boilerplate") {
          TextAnalysis.boilerplateStats(batch, "doc_id", "text", n = 3, minDocs = 5)
        }
        val (curated, updated) = ctx.eager("pipeline", "Pipeline.curateIncremental") {
          graft.Pipeline.curateIncremental(spark.table("catalog"), batch,
            evalDocs, "doc_id", "text", batchId = 1L)
        }
        ctx.op("pipeline", "curated.materialize", "si_curated")(curated.select("doc_id", "split"))
        ctx.eager("dedup", "Dedup.dedupCatalogWriteAtomic")(Dedup.dedupCatalogWriteAtomic(updated, "catalog"))
        ctx.eager("streaming", "StreamingAnnIngest.appendBatchVersioned") {
          StreamingAnnIngest.appendBatchVersioned(read(ctx, "batch_vectors.parquet"),
            "vec_id", "embedding", base, 1L)
        }
        ctx.eager("similarity", "AnnIndex.deleteFromIndex") {
          AnnIndex.deleteFromIndex(read(ctx, "deletes.parquet"), "vec_id",
            AnnIndex.versionPath(base, AnnIndex.currentVersion(spark, base).get))
        }
        ctx.group("streaming", "maintenance") {
          ctx.eager("dedup", "Dedup.dedupCatalogCompact") {
            Dedup.dedupCatalogCompact(spark, Seq("catalog"), "catalog_compacted")
          }
          ctx.eager("similarity", "AnnIndex.compactVersioned")(AnnIndex.compactVersioned(spark, base))
        }
        ctx.op("similarity", "AnnIndex.searchCurrent", "si_search") {
          AnnIndex.searchCurrent(spark, base, queries, "vec_id", "embedding",
            topK = 10, nProbe = 8, shortlist = 100)
        }
      }
      ctx.op("dedup", "catalog.materialize", "si_catalog")(spark.table("catalog_compacted"))
    }
  }
}
