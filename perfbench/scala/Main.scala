package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a set-up build, an untimed warm-up that runs
  * every op template once, and closed-loop rounds of timed ops. */
trait Workload {
  /** Builds the artifacts the workload serves. */
  def build(): Unit
  def warm(): Unit
  def round(r: Int): Unit
  /** Untimed, after the timed region: results for the checks. */
  def finish(): Unit
  /** Bytes on disk of the store or indexes the workload serves. */
  def storeBytes(): Long
}

/** Shared run state: the session, the plan written by run.py, the op
  * log, per-layer samples, and the outputs handed to the checks. */
final class Ctx(val spark: SparkSession, val plan: JsonNode, val trace: Trace) {
  val root: String = plan.get("root").asText
  val in: String = plan.get("in").asText
  val out: String = plan.get("out").asText
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val samples = new Samples
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  var timed = false

  /** Runs one op. In the timed region it is logged with its wall time
    * and, when traced, the listener counts it caused. A failing op is
    * logged as failed and the loop goes on. Blocks an op persists are
    * released when it ends, as a serving process would. */
  def op[T](kind: String, tpl: String)(body: => T): Option[T] = {
    val before = if (timed) trace.snap() else Map.empty[String, Double]
    val t0 = System.nanoTime()
    val res =
      try Right(graft.core.Exec.releasingNewBlocks(spark.sparkContext)(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) {
      val after = trace.snap()
      val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      ops += Map("kind" -> kind, "tpl" -> tpl, "ms" -> ms, "ok" -> res.isRight,
        "err" -> res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")
          .getOrElse(""), "d" -> d)
    }
    res match {
      case Right(v) => Some(v)
      case Left(e) if timed =>
        System.err.println(s"[perfbench] $kind/$tpl failed: $e")
        None
      case Left(e) => throw e
    }
  }

  /** Records a per-layer sample, only inside the timed region. */
  def sample(k: String, v: Double): Unit = if (timed) samples.add(k, v)

  def dirBytes(path: String): Long = Fs.walk(path).map(_.length).sum
}

object Fs {
  def walk(path: String): Seq[File] = {
    val f = new File(path)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(g => walk(g.getPath))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator.asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(g => delete(g.getPath))
    f.delete(); ()
  }
}

object Cells {
  /** A result cell as a JSON-friendly value. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case n: Int => n.toLong
    case n: Short => n.toLong
    case xs: scala.collection.Seq[_] => xs.map(cell)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> cell(x) }
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell)
    case other => other
  }
}

object Json {
  private val mapper = new ObjectMapper

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${write(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Array[_] => write(xs.toSeq)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  def save(path: String, v: Any): Unit =
    Files.write(Paths.get(path), write(v).getBytes(StandardCharsets.UTF_8))
}

object Main {
  def main(args: Array[String]): Unit = {
    val plans = args.toSeq.map(Json.read)
    val plan = plans.head
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = plan.get("cores").asInt
    val root = plan.get("root").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def workload(ctx: Ctx): Workload = ctx.plan.get("workload").asText match {
      case "tsdb_read" => new TsdbRead(ctx)
      case "corpus" => new Corpus(ctx)
      case "graph" => new GraphWl(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (plan.path("train").asBoolean(false)) {
      // a training run sets up and warms every workload it is given, so
      // that the class-data archive the JVM records at exit holds the
      // classes all of them load
      plans.foreach { p =>
        val wl = workload(new Ctx(spark, p, new Trace(spark, false)))
        wl.build()
        wl.warm()
      }
      Runtime.getRuntime.halt(0)
    }
    val ctx = new Ctx(spark, plan, new Trace(spark, plan.get("trace").asBoolean))
    val wl = workload(ctx)
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val buildMs = Timer.ms(wl.build())._2
    val warmMs = Timer.ms(wl.warm())._2
    val setupWallMs = System.currentTimeMillis() - jvmStartMs

    val seconds = plan.get("seconds").asDouble
    ctx.timed = true
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.round(rounds)
      rounds += 1
    }
    val loopMs = (System.nanoTime() - t0) / 1e6
    ctx.timed = false
    wl.finish()
    val result = Map(
      "setup" -> Map("session_ms" -> sessionMs.toDouble, "build_ms" -> buildMs,
        "warm_ms" -> warmMs, "wall_ms" -> setupWallMs.toDouble),
      "rounds" -> rounds, "loop_ms" -> loopMs,
      "ops" -> ctx.ops, "samples" -> ctx.samples.toMap,
      "store_bytes" -> wl.storeBytes(),
      "heap_live_mb" -> Trace.liveHeapMb())
    Json.save(s"${ctx.out}/outputs.json", ctx.outputs)
    Json.save(s"${ctx.out}/result.json", result)
    // the run root, Spark's local dirs included, is deleted by run.py;
    // skipping the orderly session shutdown saves a second per run
    Runtime.getRuntime.halt(0)
  }
}
