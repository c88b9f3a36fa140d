package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.Exec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** graph: set-up writes the stored bucketed edge table from the
  * co-purchase lineitem; each op runs one registered graph analysis,
  * forced to full rows with Exec.forceRows. The warm-up collects each
  * analysis's rows for the check; every timed op must force the same
  * number of rows. */
final class GraphWl(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  private val names = ctx.plan.get("analyses").elements.asScala.toIndexedSeq.map(_.asText)
  private val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all(n)).toMap
  }
  private val dir = ctx.in
  private var table: String = _
  private val rowCounts = mutable.Map.empty[String, Long]
  private var countMismatches = 0

  def build(): Unit = {
    val before = tables()
    graft.rel.Graph.prebuildStoredEdges(s, dir)
    table = (tables() -- before).headOption.getOrElse(
      throw new IllegalStateException("no stored edge table was written"))
  }

  def warm(): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    ctx.outputs("results") = names.map { n =>
      val rows = ctx.op("analysis", n)(queries(n)(s, dir).collect().toSeq).get
      rowCounts(n) = rows.size.toLong
      n -> Map("rows" -> rows.map(_.toSeq.map(Cells.cell)), "oracle" -> oracles(n))
    }.toMap
  }

  def round(r: Int): Unit = names.foreach { n =>
    ctx.op("analysis", n)(Exec.forceRows(queries(n)(s, dir))).foreach { c =>
      if (c != rowCounts(n)) countMismatches += 1
    }
  }

  def finish(): Unit = ctx.outputs("repeat_mismatches") = countMismatches

  def storeBytes(): Long = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    ctx.dirBytes(s"${wh.toUri.getPath}/$table")
  }

  private def tables(): Set[String] =
    s.catalog.listTables().collect().map(_.name).toSet
}
