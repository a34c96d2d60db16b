package c4bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Axis, FlatTable}
import graft.pivot.Pivot
import graft.output.{Display, Excel}

/** One timed unit of a query workload: `build` runs the library's query
  * constructor on the driver (with any eager jobs it starts) and returns
  * the plan's executor; `exec` runs it. */
trait Op {
  def name: String
  /** Builds the operation; the returned function executes it, writing the
    * result to `checkDir` when given, or else to Spark's `noop` sink, and
    * returns named sub-timings in seconds. */
  def build(spark: SparkSession, data: String): Option[String] => Map[String, Double]
}

final case class QueryOp(name: String) extends Op {
  def build(spark: SparkSession, data: String): Option[String] => Map[String, Double] = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, data)
    checkDir => {
      checkDir match {
        case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      Map.empty
    }
  }
}

/** Renders one finished margin table (region × nation order counts with
  * subtotals, totals and a percentage view) as JSON, HTML and xlsx. */
final case class RenderOp(tmp: String) extends Op {
  val name = "render"
  def build(spark: SparkSession, data: String): Option[String] => Map[String, Double] = {
    def read(t: String) = spark.read.parquet(s"$data/$t.parquet")
    val (o, c, n, r) = (read("orders"), read("customer"), read("nation"), read("region"))
    val j = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
    val ft: FlatTable = Pivot.groupAgg(j, Seq("r_name", "n_name"), count(lit(1)).as("n_orders"))
      .addSubtotals(Axis.Rows, Seq(0)).addTotals(Axis.Rows)
      .addPercentages(Axis.Rows, base = 100)
    checkDir => {
      def timed[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f; (a, (System.nanoTime() - t) / 1e9)
      }
      val (json, jsonS) = timed(Display(ft).getJson())
      val (html, htmlS) = timed(Display(ft).html())
      val xlsx = s"$tmp/render.xlsx"
      val (_, excelS) = timed(Excel.write(ft, xlsx))
      checkDir.foreach { dir =>
        val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        require(parsed.get("values").size() > 25, s"render: JSON has too few rows: $json")
        require(html.contains("Totals"), "render: HTML lacks the Totals margin")
        require(java.nio.file.Files.size(java.nio.file.Paths.get(xlsx)) > 1000,
          "render: xlsx is empty")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/render.ok"), "ok")
      }
      Map("output.json_s" -> jsonS, "output.html_s" -> htmlS, "output.excel_s" -> excelS)
    }
  }
}

object Workloads {
  /** The reference surface, each query with the family it exercises:
    * pivots, margins, percentage views and the storage round-trip. */
  val pivotFamilies: Map[String, String] = Map(
    "q01_pivot" -> "pivot",
    "q03_totals_both" -> "margins", "q04_subtotals" -> "margins",
    "q10_pct_grand" -> "percentages",
    "q47_meta_roundtrip" -> "roundtrip")

  /** Driver-side curation: most time is eager jobs during construction. */
  val curate: Seq[String] = Seq("q151_crossentropy_select", "q132_dup_histogram")

  /** Queries too slow to time in every run (q184: about 45 s cold plus
    * warm on 4 cores); a traced run runs each once after its timed passes,
    * for its layer counts and an output check. */
  def probes(workload: String): Seq[String] =
    if (workload == "curate_driver") Seq("q184_pretrain_e2e") else Nil

  /** Scan kernels: most time is plan execution in codegen'd expressions. */
  val scan: Seq[String] = Seq("q194_bleu_eval", "q199_rouge_eval", "q116_top_ngrams",
    "q37_embed_cosine", "q61_image_decode")

  def ops(workload: String, tmp: String): Seq[Op] = workload match {
    case "pivot_finish" => pivotFamilies.keys.toSeq.sorted.map(QueryOp) :+ RenderOp(tmp)
    case "curate_driver" => curate.map(QueryOp)
    case "scan_kernels" => scan.map(QueryOp)
    case other => throw new IllegalArgumentException(s"not a query workload: $other")
  }
}
