package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.llm.{Dedup, Similarity}
import graft.stream.Ingest
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** corpus: each op checks one arriving document batch for near
  * duplicates against the stored band index, then appends the batch to
  * the band index and the IVF index through their stream maintainers
  * (compaction and drift retrain on). A stored IVF probe with a batch of
  * query vectors follows each op. Every round starts from a copy of the
  * indexes set-up built over the base corpus. Each batch of a round is
  * its own op template (`batch<i>`), so the one that trips the retrain
  * is timed apart from the others. */
final class Corpus(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  private val p = ctx.plan
  private val batches = p.get("batches").elements.asScala.toIndexedSeq
  private val reads = p.get("reads").elements.asScala.toIndexedSeq
  private val topK = p.get("top_k").asInt
  private val nprobe = p.get("nprobe").asInt
  private val bandCompact = p.get("band_compact").asInt
  private val ivfCompact = p.get("ivf_compact").asInt
  private val params = Similarity.IndexParams(k = p.get("ivf_lists").asInt,
    iters = p.get("ivf_iters").asInt, pqM = p.get("pq_subspaces").asInt)
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))
  private val snapDir = s"${ctx.root}/corpus_snap"
  private var repeatMismatches = 0
  private val roundBytes = mutable.ArrayBuffer.empty[Long]
  private val firstOut = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var warmOut: Map[String, Any] = Map.empty

  def build(): Unit = {
    Files.createDirectories(Paths.get(s"$snapDir/docs"))
    Files.copy(Paths.get(p.get("base_docs").asText), Paths.get(s"$snapDir/docs/base.parquet"))
    Dedup.buildBandIndex(s, s.read.parquet(p.get("base_docs").asText), "doc_id", "text",
      s"$snapDir/bands", "perfbench")
    Similarity.buildIvfIndex(s, s.read.parquet(p.get("base_vecs").asText),
      s"$snapDir/ivf", "perfbench", params)
  }

  def warm(): Unit = {
    val store = s"${ctx.root}/corpus_warm"
    Fs.copyTree(snapDir, store)
    arrive(store, 0)
    val pairs = ctx.op("batch", "batch0")(ingest(store, 0)).get
    val rd = reads(0).elements.asScala.toSeq.flatMap { slice =>
      ctx.op("read", "probe")(probe(store, slice)).get
    }
    warmOut = Map("pairs" -> pairs, "probe" -> rd)
    Fs.delete(store)
  }

  def round(r: Int): Unit = {
    val store = s"${ctx.root}/corpus_round$r"
    Fs.copyTree(snapDir, store)
    batches.indices.foreach { i =>
      arrive(store, i)
      val fpBefore = Similarity.indexFingerprint(s, s"$store/ivf")
      val res = ctx.op("batch", s"batch$i")(ingest(store, i))
      val retrained = Similarity.indexFingerprint(s, s"$store/ivf") != fpBefore
      ctx.sample("llm.similarity.retrains", if (retrained) 1.0 else 0.0)
      ctx.sample("llm.dedup.band_deltas_live", Dedup.bandDeltaCount(s, s"$store/bands").toDouble)
      val rd = reads(i).elements.asScala.toSeq.flatMap { slice =>
        ctx.op("read", "probe")(probe(store, slice)).getOrElse(Nil)
      }
      ctx.sample("llm.similarity.ivf_deltas_live",
        Similarity.ivfDeltaCount(s, s"$store/ivf").toDouble)
      val out = Map("pairs" -> res.getOrElse(Nil), "probe" -> rd,
        "retrained" -> retrained)
      if (r == 0) firstOut += out
      else if (firstOut(i) != out) repeatMismatches += 1
      // the warm-up served batch 0 from an identical store
      if (r == 0 && i == 0 && out - "retrained" != warmOut)
        repeatMismatches += 1
    }
    roundBytes += ctx.dirBytes(s"$store/bands") + ctx.dirBytes(s"$store/ivf")
    Fs.delete(store)
  }

  def finish(): Unit = {
    ctx.outputs("ops") = firstOut
    ctx.outputs("repeat_mismatches") = repeatMismatches
  }

  def storeBytes(): Long = {
    val b = roundBytes.sorted
    b(b.size / 2)
  }

  /** The batch's files land in the stream source dirs and the document
    * store before the op starts. */
  private def arrive(store: String, i: Int): Unit = {
    val b = batches(i)
    for ((from, to) <- Seq(b.get("docs").asText -> s"$store/arrive_docs",
                           b.get("docs").asText -> s"$store/docs",
                           b.get("vecs").asText -> s"$store/arrive_vecs")) {
      Files.createDirectories(Paths.get(to))
      Files.copy(Paths.get(from), Paths.get(s"$to/batch$i.parquet"))
    }
  }

  private def ingest(store: String, i: Int): Seq[Seq[Any]] = {
    val batch = s.read.parquet(batches(i).get("docs").asText)
    val (pairs, probeMs) = Timer.ms(
      Dedup.incrementalNearDups(s, batch, s.read.parquet(s"$store/docs"), s"$store/bands")
        .collect().toSeq.map(r => r.toSeq.map(Cells.cell)))
    ctx.sample("llm.dedup.probe_ms", probeMs)
    ctx.sample("llm.dedup.pairs_per_batch", pairs.size.toDouble)
    val bandMs = Timer.ms(Ingest.maintainBandIndex(s,
      s.readStream.schema(docSchema).parquet(s"$store/arrive_docs"),
      s"$store/bands", s"$store/ck_band", maxDeltasBeforeCompact = bandCompact))._2
    ctx.sample("stream.maintain_band_ms", bandMs)
    val ivfMs = Timer.ms(Ingest.maintainIvfIndex(s,
      s.readStream.schema(vecSchema).parquet(s"$store/arrive_vecs"),
      s"$store/ivf", s"$store/ck_ivf", maxDeltasBeforeCompact = ivfCompact,
      retrainOnDrift = true, retrainParams = params))._2
    ctx.sample("stream.maintain_ivf_ms", ivfMs)
    pairs
  }

  private def probe(store: String, slice: com.fasterxml.jackson.databind.JsonNode): Seq[Seq[Any]] = {
    val queries = s.read.parquet(p.get("queries").asText)
      .where(col("query_id").between(slice.get("lo").asLong, slice.get("hi").asLong))
    val (res, ms) = Timer.ms(
      Similarity.ivfTopKStored(s, queries, s"$store/ivf", topK, nprobe)
        .collect().toSeq.map(r => r.toSeq.map(Cells.cell)))
    ctx.sample("llm.similarity.probe_ms", ms)
    res
  }
}
