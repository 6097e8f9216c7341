package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.{ChartRender, Procurement, SqlTools}
import graft.operators.ann.IvfKNN
import graft.operators.dedup.{MinHashDedup, TransitiveDedup}
import graft.operators.quantile.Quantiles
import graft.operators.sample.Packing
import graft.operators.stats.RankedSpine
import graft.sources.Snapshot

/** A collected result with its column names (the checker sorts columns
  * by name before comparing, as the oracle gate does). Rows of an
  * unordered result are sorted when the result is serialized.
  */
final case class Rows(columns: Seq[String], rows: Array[Row], ordered: Boolean = true)

/** The input side of an adaptive threshold an operation must be on. */
final case class Guard(threshold: String, value: Long, table: String, above: Boolean)

final class Ctx(val spark: SparkSession, val dirs: Map[String, String], val tracer: Tracer) {
  def snap(ds: String): Snapshot = Snapshot(spark, dirs(ds))
  /** Agent state: the intermediary view the chart calls read. */
  var view: Option[String] = None
}

/** One operation of a workload. `build` constructs the result (eager
  * preflights and pins run there) and returns the thunk that forces it.
  * `check` tells the checker how to verify the forced value.
  */
final case class Op(key: String, layer: String, dataset: String, check: Seq[(String, String)],
    guards: Seq[Guard] = Nil)(val build: Ctx => () => Any)

trait Workload {
  def datasets: Seq[String]
  def ops: Seq[Op]
  /** Floor on measured operations besides the time budget. */
  def minCalls: Int = 0
  /** Unrecorded warm-up passes. */
  def warmups: Int = 1
}

object Workload {
  val SmallInput = Guard("Quantiles.SmallInputDefault", Quantiles.SmallInputDefault, "orders", above = false)
  val SmallSpine = Guard("RankedSpine.SmallSpineDefault", RankedSpine.SmallSpineDefault, "orders", above = false)
  val SmallEdges = Guard("TransitiveDedup.SmallEdgesDefault", TransitiveDedup.SmallEdgesDefault, "pairs", above = false)

  def collect(df: DataFrame, ordered: Boolean = true): () => Rows =
    () => Rows(df.columns.toSeq, df.collect(), ordered)

  def apply(name: String, script: Option[JsonNode]): Workload = name match {
    case "agent_session" => new AgentSession(script.getOrElse(sys.error("agent_session needs --script")))
    case "batch" => Batch
    case other => sys.error(s"unknown workload $other")
  }

  /** A catalog entry, run with its own arguments and checked by its own
    * oracle SQL.
    */
  def catalog(q: String, ds: String, layer: String, guards: Guard*): Op =
    Op(s"$q@$ds", layer, ds, Seq("kind" -> "oracle", "sql" -> SparkEntry.oracleSql(q)), guards) { ctx =>
      collect(SparkEntry.queries(q)(ctx.spark, ctx.dirs(ds)))
    }
}

/** The heavy analytics families on both sides of the adaptive thresholds
  * (sf0.1 inputs take the driver-side degrade paths, the x4 orders the
  * distributed chains), then the training-data pipeline over a corpus
  * that is half planted exact / near / distinct copies.
  */
object Batch extends Workload {
  import Workload._
  val datasets = Seq("base", "amplified")
  private val Amp = "amplified"

  private def docs(ctx: Ctx): DataFrame = ctx.tracer.span("sources", "documents", "build")(ctx.snap(Amp).documents)

  val ops: Seq[Op] = Seq(
    catalog("q_percentiles", "base", "operators.quantile", SmallInput),
    catalog("q_percentiles", Amp, "operators.quantile", SmallInput.copy(above = true)),
    catalog("q_kruskal_wallis", "base", "operators.stats", SmallSpine),
    catalog("q_pagerank", "base", "operators.graph"),
    catalog("q_quality_filter", Amp, "operators.text"),
    Op("minhash_pairs", "operators.dedup", Amp, Seq("kind" -> "planted", "truth" -> "doc_pairs")) { ctx =>
      val cand = MinHashDedup.candidatePairs(docs(ctx), "doc_id", "text")
      () => {
        val all = cand.select(col("id_a"), col("id_b"), (col("jaccard") >= 0.5).as("dup")).collect()
        val dups = all.filter(_.getBoolean(2)).map(r => Row(r.getLong(0), r.getLong(1)))
        Map("candidates" -> all.length, "pairs" -> dups.toSeq)
      }
    },
    Op("components", "operators.dedup", Amp, Seq("kind" -> "planted", "truth" -> "components"), Seq(SmallEdges)) { ctx =>
      val pairs = ctx.tracer.span("sources", "pairs", "build")(ctx.spark.read.parquet(ctx.dirs(Amp) + "/pairs.parquet"))
      val comp = TransitiveDedup.components(pairs)
      collect(comp.groupBy("component").agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum")), ordered = false)
    },
    Op("ivf_search", "operators.ann", Amp, Seq("kind" -> "planted", "truth" -> "ann")) { ctx =>
      val e = ctx.tracer.span("sources", "embeddings", "build")(ctx.snap(Amp).embeddings)
      val index = IvfKNN.buildIndex(e, "vec_id", "embedding", 16, 3)
      val hits = IvfKNN.search(index, e.where(col("vec_id") < 200 && col("vec_id") % 4 === 0),
        "vec_id", "embedding", 5, nProbe = 4)
      () => try Rows(Seq("query_id", "neighbor_id"), hits.select("query_id", "neighbor_id").collect(), ordered = false)
      finally index.assigned.unpersist(false)
    },
    Op("packing", "operators.sample", Amp, Seq("kind" -> "packing", "budget" -> "4096")) { ctx =>
      collect(Packing.assignShards(docs(ctx), "doc_id", size(split(col("text"), " ")), 4096L), ordered = false)
    },
  )
}

/** A seeded session of the reference's agent tool calls. Each call is
  * forced to the driver-sized result the tool returns and checked against
  * the SQL twin that ships with the script.
  */
final class AgentSession(script: JsonNode) extends Workload {
  val datasets = Seq("base")
  // 100 calls leave ten beyond p90; the short calls keep JIT-warming for
  // several passes, so three are left unrecorded
  override val minCalls = 100
  override val warmups = 3
  private val Ds = "base"

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def view(ctx: Ctx): DataFrame =
    ctx.spark.table(ctx.view.getOrElse(sys.error("no intermediary registered")))

  val ops: Seq[Op] = script.get("calls").elements().asScala.toSeq.map { c =>
    val key = c.get("key").asText
    val tool = c.get("tool").asText
    val check = Seq("kind" -> c.get("check").asText) ++
      Option(c.get("twin")).map(t => "sql" -> t.asText) ++
      Option(c.get("expect")).map(t => "expect" -> t.asText)
    def group = c.get("group").asText
    val layer = if (tool == "schema_report") "sources" else "api"
    Op(key, layer, Ds, check) { ctx =>
      def src[T](table: String)(f: Snapshot => T): T = ctx.tracer.span("sources", table, "build")(f(ctx.snap(Ds)))
      tool match {
        case "schema_report" =>
          Workload.collect(ctx.snap(Ds).schemaReport.select("table_name", "column_name").orderBy("table_name", "column_name"))
        case "sql_validate" =>
          val sql = c.get("sql").asText
          () => SqlTools.validate(ctx.spark, sql).valid
        case "sql_run" =>
          Workload.collect(SqlTools.run(ctx.snap(Ds), c.get("sql").asText))
        case "keyword_search" =>
          val concepts = c.get("concepts").elements().asScala.map(strs).toSeq
          val d = src("documents")(_.documents)
          Workload.collect(Procurement.keywordSearch(d, "text", concepts)
            .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id"))
        case "filter_range" =>
          val o = src("orders")(_.orders)
          val f = Procurement.filterRange(o, "o_orderdate", c.get("from").asText, c.get("until").asText,
            Map("o_orderpriority" -> strs(c.get("units"))))
          ctx.view = Some(Procurement.registerIntermediary(f))
          () => f.count()
        case "bar" => Workload.collect(Procurement.barAgg(view(ctx), group, "o_totalprice"))
        case "pie" => Workload.collect(Procurement.pieAgg(view(ctx), group))
        case "monthly" => Workload.collect(Procurement.monthlyTrend(view(ctx), "o_orderdate", "o_totalprice"))
        case "hist_month" => Workload.collect(Procurement.histogramMonth(view(ctx), "o_orderdate"))
        case "hist_numeric" =>
          Workload.collect(Procurement.histogramNumeric(view(ctx), "o_totalprice", c.get("width").asDouble))
        case "insights" => Workload.collect(Procurement.insights(view(ctx), "o_totalprice"))
        case "insights_text" =>
          val v = view(ctx)
          () => Procurement.insightsText(v, group, "o_totalprice")
        case "chart_png" =>
          val agg = Procurement.barAgg(view(ctx), group, "o_totalprice")
          () => {
            val png = ChartRender.barChartPng(agg, group, "total_budget")
            val magic = png.length > 8 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G'
            Map("png" -> magic, "bytes" -> png.length)
          }
        case other => sys.error(s"unknown agent tool $other")
      }
    }
  }
}
