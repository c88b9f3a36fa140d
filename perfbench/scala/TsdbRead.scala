package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.tsdb._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One request of the plan; `cap` > 0 sends it behind the point cap. */
final case class Req(id: String, tpl: String, form: String, text: String, cap: Long)

/** tsdb_read: one OpenTSDB request per op — a POST body, a GET query
  * string or an expression — parsed, planned over the events store,
  * shaped into wire JSON rows and collected. */
final class TsdbRead(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  private val reqs = ctx.plan.get("requests").elements.asScala.toIndexedSeq.map { n =>
    Req(n.get("id").asText, n.get("tpl").asText, n.get("form").asText,
      n.get("text").asText, n.get("cap").asLong)
  }
  private var pts: DataFrame = _
  private val first = mutable.LinkedHashMap.empty[String, Seq[Seq[String]]]
  private var repeatMismatches = 0

  def build(): Unit = {
    pts = Pipeline.eventsAsPoints(s, ctx.in)
    pts.schema; ()
  }

  /** Runs every request once and keeps its answer for the check. */
  def warm(): Unit = reqs.foreach { q =>
    ctx.op("request", q.tpl)(run(q)).foreach(res => first(q.id) = res.map(_.sorted))
  }

  /** A round sends every request once; each answer must equal the
    * warm-up's. */
  def round(r: Int): Unit = reqs.foreach { q =>
    ctx.op("request", q.tpl)(run(q)).foreach { res =>
      if (res.map(_.sorted) != first(q.id)) repeatMismatches += 1
    }
  }

  def finish(): Unit = {
    ctx.outputs("responses") = first
    ctx.outputs("repeat_mismatches") = repeatMismatches
  }

  def storeBytes(): Long = ctx.dirBytes(s"${ctx.in}/events.parquet")

  private def run(r: Req): Seq[Seq[String]] = {
    val (parsed, parseMs) = Timer.ms[Either[TsdbQuery, Expression.ExprNode]](r.form match {
      case "post" => Left(RequestJson.parse(r.text, graft.core.Tables.NowMs))
      case "qs" => Left(RequestQs.parse(r.text, graft.core.Tables.NowMs))
      case "expr" => Right(Expression.parseExpr(r.text, graft.core.Tables.NowMs))
    })
    ctx.sample("tsdb.request.parse_us", parseMs * 1000.0)
    val from = System.currentTimeMillis()
    val (frames, buildMs) = Timer.ms(parsed match {
      case Left(q) if r.cap > 0 =>
        Seq(shape(Pipeline.runCapped(s, pts, q, Pipeline.Caps(maxDataPoints = r.cap)),
          q.queries.head))
      case Left(q) => Pipeline.runAll(s, pts, q).zip(q.queries).map((shape _).tupled)
      case Right(node) =>
        val df = Pipeline.runExpr(s, pts, node)
        val groupTags = if (df.columns.contains("tag_user")) Seq("user") else Nil
        Seq(Response.toJsonRows(df, "expr", groupTags, Seq("user").diff(groupTags)))
    })
    // Pipeline.* runs some jobs before it returns (fill grids, the
    // shared scan, the cap's count); their wall time is not build time
    if (ctx.timed && ctx.trace.enabled)
      ctx.sample("tsdb.pipeline.build_ms", math.max(0.0,
        buildMs - ctx.trace.jobMsWithin(from, System.currentTimeMillis())))
    val res = frames.map(_.collect().toSeq.map(_.getString(0)))
    ctx.sample("tsdb.response.rows_per_op", res.map(_.size).sum.toDouble)
    res
  }

  /** Wire rows of one subquery result; a rate request answers with its
    * rate column, dropping each series' first bucket. */
  private def shape(df: DataFrame, sub: SubQuery): DataFrame = {
    val groupTags = sub.filters.filter(_.groupBy).map(_.tagk).distinct
    val frame =
      if (sub.rate) df.where(col("rate").isNotNull)
        .select(groupTags.map(k => col(s"tag_$k")) ++
          Seq(col("bucket_ms"), col("rate").as("value")): _*)
      else df
    Response.toJsonRows(frame, sub.metric, groupTags, Seq("user").diff(groupTags))
  }
}
