package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.{ArrayExprs, TextFns}
import graft.mwa.{Fits, GraftConfig, MatchFilter, ReadOps, VisGenerator, VisOps, VisStore}
import graft.operators.Dedup

/** What the closed loop needs from one workload. An op is one unit of
  * work; a pass is the ordered list of op labels run back to back (one
  * label except for catalog_mix). Spans around each layer call exist only
  * on the traced path, which materializes every layer's output at its
  * boundary so each span times that layer's work. */
abstract class Workload(val name: String, val spark: SparkSession,
                        val work: String, val seed: Long) {
  /** Writes this run's inputs; timed as part of set-up. */
  def generate(): Unit
  def pass(p: Int): Seq[String] = Seq(name)
  /** Untimed ops run back to back just before the timed loop. */
  def warmupOps: Int = 0
  def run(label: String): Unit
  def runTraced(label: String, op: Int, tr: Tracer): Unit
  /** The op with its output kept where `gate` reads it; untimed. */
  def result(label: String): Unit = run(label)
  /** Bytes of input one op with this label reads. */
  def inputBytes(label: String): Long
  /** DuckDB oracle SQL (graft.SparkEntry.oracleSql) by result name. */
  def oracleSql: Map[String, String] = Map.empty
  /** Correctness gate, run after the timed loop: label -> failures.
    * `compare` checks result directories against the oracle. */
  def gate(compare: Map[String, String] => Map[String, String]): Map[String, Seq[String]]
  /** Input sizes and shapes stamped into the report. */
  def stamps: Seq[(String, Any)]
  /** Per-layer values that are not span times, from the last traced op. */
  def traceExtras(tr: Tracer): Map[String, Double] = Map.empty

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  /** One traced layer call: its output materialized at the span boundary
    * (so the span times the layer's work) with its planning charged. */
  protected def stage(tr: Tracer, name: String, op: Int)(f: => DataFrame): DataFrame =
    tr.span(name, op) {
      val df = f
      val out = df.localCheckpoint(eager = true)
      tr.chargePlanning(df.queryExecution)
      out
    }
  protected def writeResult(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)
  /** The oracle's verdict on one result as gate failures; no verdict fails. */
  protected def verdicts(verdict: Map[String, String], q: String): Seq[String] =
    Seq(verdict.getOrElse(q, "no oracle verdict")).filter(_ != "ok")
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "mwa_ingest" => new MwaIngest(spark, work, seed)
      case "mwa_flag" => new MwaFlag(spark, work, seed)
      case "llm_dedup" => new LlmDedup(spark, work, seed)
      case "catalog_mix" => new CatalogMix(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Row equality with doubles compared by bit pattern. */
  def bitEqual(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
        case (x, y) => x == y
      }
    }

  /** A seeded observation shape: planted tone and streak positions derive
    * from the seed, and the tone avoids the edge and centre fine channels
    * that flag_init flags. */
  def visSpec(seed: Long, nTimes: Int, nAnts: Int, nCoarse: Int, nFine: Int,
              pols: Seq[String]): VisGenerator.Spec = {
    val rng = new java.util.SplittableRandom(seed)
    val fine = 1 + rng.nextInt(nFine / 2 - 2)
    val toneStart = 2 + rng.nextInt(nTimes / 2 - 3)
    VisGenerator.Spec(
      obsid = 1060000000L + Math.floorMod(seed, 1000000L),
      nTimes = nTimes, nAnts = nAnts, nCoarse = nCoarse, nFine = nFine,
      pols = pols, seed = seed,
      rfiFreqIdx = rng.nextInt(nCoarse) * nFine + fine,
      rfiTimes = (toneStart, toneStart + 2),
      streakTime = nTimes / 2 + 1 + rng.nextInt(nTimes / 2 - 3))
  }
}

import Workload._

/** One op ingests one gpubox FITS observation: graft-vis scan -> VisStore
  * Parquet layout partitioned by (obsid, coarse_chan). */
final class MwaIngest(spark: SparkSession, work: String, seed: Long)
    extends Workload("mwa_ingest", spark, work, seed) {
  val spec = visSpec(seed, nTimes = 8, nAnts = 16, nCoarse = 4, nFine = 16,
    pols = Seq("XX", "XY", "YX", "YY"))
  private val fitsDir = s"$work/fits"
  private val store = s"$work/store"
  private val rows = spec.nTimes.toLong * spec.nAnts * (spec.nAnts + 1) / 2 *
    spec.nCoarse * spec.nFine * spec.pols.length

  /** the first ops after set-up still run while the JIT compiles the
    * engine's hot code (0.82, 0.77, 0.67, 0.64 s against 0.55 s) */
  override def warmupOps: Int = 8

  def generate(): Unit = {
    deleteTree(fitsDir)
    Fits.writeVis(Paths.get(fitsDir), spec)
  }
  private def scan(): DataFrame =
    spark.read.format("graft-vis").option("path", fitsDir).load()
  def run(label: String): Unit = VisStore.write(scan(), store)
  def runTraced(label: String, op: Int, tr: Tracer): Unit = tr.span("op", op) {
    val vis = stage(tr, "sources.scan", op)(scan())
    tr.span("mwa.store_write", op) { VisStore.write(vis, store) }
  }
  def inputBytes(label: String): Long = dirBytes(fitsDir)

  def gate(compare: Map[String, String] => Map[String, String]): Map[String, Seq[String]] = {
    val want = VisGenerator.portable(spark, spec)
    val got = VisStore.read(spark, store)
      .select(want.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    val key = Seq("time_idx", "ant1", "ant2", "freq_hz", "pol").map(col)
    val a = want.orderBy(key: _*).collect()
    val b = got.orderBy(key: _*).collect()
    val bad = if (a.length != b.length) Seq(s"rows ${b.length} vs ${a.length}")
      else a.indices.find(i => !bitEqual(a(i), b(i)))
        .map(i => s"row $i: ${b(i)} vs ${a(i)}").toSeq
    Map(name -> bad)
  }

  def stamps: Seq[(String, Any)] = Seq("vis_rows" -> rows,
    "fits_bytes" -> dirBytes(fitsDir), "fits_files" -> spec.nCoarse,
    "shape" -> s"${spec.nTimes}t x ${spec.nAnts}ant x ${spec.nCoarse * spec.nFine}ch x ${spec.pols.length}pol")

  override def traceExtras(tr: Tracer): Map[String, Double] = {
    val scanS = tr.spans.toSeq.filter(_.name == "sources.scan").map(_.dur / 1e3)
    Map("sources.rows_per_s" -> Stats.median(scanS.map(rows / _)),
      "mwa.store_bytes_ratio" -> dirBytes(store).toDouble / dirBytes(fitsDir))
  }
}

/** The reference's flag pipeline over one observation in the VisStore
  * layout: readChain (flag_init, Van Vleck, coarse-band removal) ->
  * spectrum (select with the antenna dimension, diff, INS, z-score) ->
  * INS written -> MatchFilter -> flags written. */
final class MwaFlag(spark: SparkSession, work: String, seed: Long)
    extends Workload("mwa_flag", spark, work, seed) {
  val spec = visSpec(seed, nTimes = 12, nAnts = 12, nCoarse = 2, nFine = 16,
    pols = Seq("XX", "YY"))
  val config = GraftConfig(correctVanVleck = true, removeCoarseBand = true)
  private val layout = ReadOps.FreqLayout(spec.freq0Hz, spec.dfHz, spec.nFine)
  private val store = s"$work/vis"
  private val insDir = s"$work/ins"
  private val flagsDir = s"$work/flags"

  def generate(): Unit = VisStore.write(VisGenerator.vis(spark, spec), store)
  private def antennas = VisGenerator.antennas(spark, spec)

  def run(label: String): Unit = {
    val vis = ReadOps.readChain(VisStore.read(spark, store), config, layout)
    VisOps.spectrum(vis, config, Some(antennas)).write.mode("overwrite").parquet(insDir)
    MatchFilter(spark.read.parquet(insDir), config).write.mode("overwrite").parquet(flagsDir)
  }

  def runTraced(label: String, op: Int, tr: Tracer): Unit = tr.span("op", op) {
    def stage(n: String)(f: => DataFrame): DataFrame = this.stage(tr, n, op)(f)
    val vis = stage("mwa.store_read")(VisStore.read(spark, store))
    val init = stage("mwa.flag_init")(
      ReadOps.flagInit(ReadOps.applyFlagChoice(vis, config.flagChoice), layout))
    val vv = stage("mwa.van_vleck")(ReadOps.correctVanVleck(init))
    val cb = stage("mwa.coarse_band")(ReadOps.removeCoarseBand(vv, layout))
    val sel = stage("mwa.select")(VisOps.selectSurface(cb, config, Some(antennas)))
    val d = stage("mwa.diff")(VisOps.diff(sel))
    val ins = stage("mwa.ins")(VisOps.ins(d))
    tr.span("mwa.zscore", op) { VisOps.zscore(ins).write.mode("overwrite").parquet(insDir) }
    tr.span("mwa.match_filter", op) {
      MatchFilter(spark.read.parquet(insDir), config).write.mode("overwrite").parquet(flagsDir)
    }
  }
  def inputBytes(label: String): Long = dirBytes(store)

  private val nFreq = spec.nCoarse * spec.nFine
  private val nPol = spec.pols.length
  /** channels flag_init flags at every time: coarse-band edges and centre */
  private val initFlagged = (0 until nFreq).count { f =>
    val pos = f % spec.nFine
    pos == 0 || pos == spec.nFine - 1 || pos == spec.nFine / 2
  }
  /** diffed INS cells with unflagged samples: time pairs 1..nTimes-2 (the
    * pair from time 0 inherits flag_init's time-0 flag) x unflagged
    * channels x pols */
  private val liveCells = (spec.nTimes - 2).toLong * (nFreq - initFlagged) * nPol

  def gate(compare: Map[String, String] => Map[String, String]): Map[String, Seq[String]] = {
    val bad = Seq.newBuilder[String]
    val ins = spark.read.parquet(insDir)
    val live = ins.filter(col("metric").isNotNull).count()
    if (live != liveCells) bad += s"INS has $live cells with a metric, expected $liveCells"
    val outside = ins.filter(col("time_idx") < 0 || col("time_idx") > spec.nTimes - 2).count()
    if (outside > 0) bad += s"$outside INS cells outside the diffed time range"
    // the diff moves each planted edge to the time pair that straddles it
    val toneHz = spec.freq0Hz + spec.rfiFreqIdx * spec.dfHz
    if (!Files.exists(Paths.get(flagsDir))) bad += "no flags written"
    else {
      val fl = spark.read.parquet(flagsDir)
      val streakRows = fl.filter(col("time_idx") === spec.streakTime - 1)
      val notStreak = streakRows.filter(col("event") =!= "streak").count()
      if (notStreak > 0) bad += s"$notStreak cells at the streak time not flagged streak"
      val tone = fl.filter(col("time_idx") === spec.rfiTimes._1 - 1 &&
        abs(col("freq_hz") - toneHz) < 1.0 && !col("flagged")).count()
      if (tone > 0) bad += s"$tone tone cells not flagged"
    }
    Map(name -> bad.result())
  }

  def stamps: Seq[(String, Any)] = Seq(
    "vis_rows" -> spec.nTimes.toLong * spec.nAnts * (spec.nAnts + 1) / 2 * nFreq * nPol,
    "store_bytes" -> dirBytes(store), "ins_live_cells" -> liveCells,
    "shape" -> s"${spec.nTimes}t x ${spec.nAnts}ant x ${nFreq}ch x ${nPol}pol",
    "read_options" -> "flag_init, correct_van_vleck, remove_coarse_band, diff")
}

/** One op runs the d11_pipeline query body (exact dedup -> MinHash/LSH ->
  * duplicateClusters -> anti-join -> langId/token tail) over a seeded
  * corpus of letter-permuted copies, to a full-row noop sink. */
final class LlmDedup(spark: SparkSession, work: String, seed: Long)
    extends Workload("llm_dedup", spark, work, seed) {
  val baseDocs = 500
  val copies = 8
  private val data = s"$work/data"
  private val q = "d11_pipeline"
  private var lastBanded: DataFrame = _
  private var lastPairs: DataFrame = _

  /** the first op after the result pass ran 10-20% slower, with more CPU */
  override def warmupOps: Int = 1

  def generate(): Unit = Gen.writeDocs(spark, data, Gen.documents(seed, baseDocs), copies, seed)
  def run(label: String): Unit = noop(SparkEntry.queries(q)(spark, data))

  /** The query body's composition, called layer by layer through the same
    * public operators and functions. */
  def runTraced(label: String, op: Int, tr: Tracer): Unit = tr.span("op", op) {
    def stage(n: String)(f: => DataFrame): DataFrame = this.stage(tr, n, op)(f)
    val docs = graft.Tables.documents(spark, data)
    val uniq = stage("operators.exact_dedup")(Dedup.exactRows(docs, "doc_id", "text"))
    val sigs = stage("functions.minhash")(uniq.select(col("doc_id").as("id"),
      ArrayExprs.minhash_text(col("text"), 3, 128).as("sig")))
    lastBanded = stage("functions.lsh_bands")(sigs.select(col("id"),
      explode(TextFns.lshBands(col("sig"), 128, 32)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.digest").as("digest")))
    val pairs = stage("operators.minhash_lsh")(
      Dedup.minhashLsh(uniq, "doc_id", "text", shingleN = 3, k = 128, bands = 32, threshold = 0.7))
    lastPairs = pairs
    val dupes = stage("operators.clusters")(Dedup.duplicateClusters(pairs.select("id_a", "id_b")))
      .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
    tr.span("queries.d11_tail", op) {
      noop(uniq.join(dupes, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), TextFns.langId(col("text")).as("pred_lang"),
          size(TextFns.words(col("text"))).cast("int").as("n_tokens"))
        .filter(col("n_tokens") >= 5).orderBy("doc_id"))
    }
  }

  def inputBytes(label: String): Long = dirBytes(data)
  override def oracleSql: Map[String, String] = Map(q -> SparkEntry.oracleSql(q))

  override def result(label: String): Unit =
    writeResult(SparkEntry.queries(q)(spark, data), s"$work/out/$q")
  def gate(compare: Map[String, String] => Map[String, String]): Map[String, Seq[String]] =
    Map(name -> verdicts(compare(Map(q -> s"$work/out/$q")), q))

  def stamps: Seq[(String, Any)] = Seq("docs" -> baseDocs * copies,
    "base_docs" -> baseDocs, "copies" -> copies, "documents_bytes" -> dirBytes(data))

  override def traceExtras(tr: Tracer): Map[String, Double] = {
    val buckets = lastBanded.groupBy("band", "digest").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    val verified = lastPairs.count().toDouble
    Map("operators.lsh_pairs" -> verified,
      "operators.lsh_verified_share" -> (if (buckets > 0) verified / buckets else 0.0))
  }
}

/** One op is one catalog query to a full-row noop sink; each pass runs
  * the fixed list in a seed-shuffled order. */
final class CatalogMix(spark: SparkSession, work: String, seed: Long)
    extends Workload("catalog_mix", spark, work, seed) {
  private val data = s"$work/data"

  def generate(): Unit = Gen.catalogTables(spark, data, seed, Gen.catalogSizes)
  override def pass(p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p).shuffle(CatalogMix.queries)
  private def query(label: String): DataFrame = SparkEntry.queries(label)(spark, data)
  def run(label: String): Unit = noop(query(label))
  def runTraced(label: String, op: Int, tr: Tracer): Unit =
    tr.span(s"queries.$label", op)(run(label))

  /** Every op is charged the whole catalog input: the iterative queries
    * read checkpointed intermediates, so per-query scan sets are not
    * observable from the final plan. */
  def inputBytes(label: String): Long = dirBytes(data)

  override def oracleSql: Map[String, String] =
    CatalogMix.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap

  override def result(label: String): Unit = writeResult(query(label), s"$work/out/$label")
  def gate(compare: Map[String, String] => Map[String, String]): Map[String, Seq[String]] = {
    val verdict = compare(CatalogMix.queries.map(q => q -> s"$work/out/$q").toMap)
    CatalogMix.queries.map(q => q -> verdicts(verdict, q)).toMap
  }

  def stamps: Seq[(String, Any)] = {
    val z = Gen.catalogSizes
    Seq("customer_rows" -> z.customers, "orders_rows" -> z.orders,
      "lineitem_rows" -> z.lineitems, "events_rows" -> z.events,
      "documents_rows" -> z.docs, "data_bytes" -> dirBytes(data),
      "queries" -> CatalogMix.queries.mkString(","))
  }
}

object CatalogMix {
  val queries: Seq[String] = Seq(
    // iterative family
    "d24_reachability", "d25_shortest_paths", "d28_kcore", "q69_recursive_sql",
    // Catalyst rewrites (RangeJoinRewrite, GroupTopK)
    "q09_rangejoin", "q57_group_topk_exec",
    // queries whose projections a count() sink would prune
    "d20_span_dedup", "d21_incremental_dedup", "q11_tpch1", "q16_diff",
    "t01_text_stats", "t22_bpe_tokenize")
}
