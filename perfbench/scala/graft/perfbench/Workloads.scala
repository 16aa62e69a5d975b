package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.SparkEntry
import graft.extract.{ExtractConfig, Extractor, ExtractorState}
import graft.model.{ExtractedDoc, PageRow}
import graft.pdf.PdfBranch
import graft.pipeline.{CorpusSource, Extract, ExtractPipeline, PipelineConf}

/** What the tasks of one traced `extract_scan` pass measured, summed over
  * its partitions: stage counters, PDF time and outcome, HTML bytes, and
  * every document's extraction time. */
final case class ScanLayers(tokNs: Long, domNs: Long, clsNs: Long, asmNs: Long, pdfNs: Long,
                            pdfDocs: Long, pdfNotOk: Long, htmlBytes: Long, docNs: Seq[Long])

/** The two workloads. Each times the program's public entry points from
  * here and checks the outputs it times (the curate layer's once per run,
  * see `curateLayer`):
  *
  *  - `extract_scan`: golden pages scanned from parquet through `Extract.run`
  *    into a checksum sink. No shuffle and no write, so it isolates the
  *    extraction kernel (tokenizer, DOM, classify, assemble, PDF branch).
  *  - `crawl_pipeline`: a prefix of the same corpus through
  *    `ExtractPipeline.run` with `graft.Main`'s defaults into a fresh
  *    directory, plus a half-done run resumed to completion. Shuffle, sort,
  *    partitioned write and lineage read-back sit beside the same kernel.
  *
  * The curate layer (five `SparkEntry` data queries) is measured in the
  * traced `crawl_pipeline` run only: as a workload of its own its pass time
  * varied by a fifth from run to run on a 4-core host, too much to bound.
  *
  * With tracing off a run measures the end-to-end figures. With tracing on,
  * untraced and traced passes alternate (so both see the same JIT state and
  * their wall ratio is the tracing overhead), the per-layer figures come from
  * the traced passes, `extract_scan` adds a local[1] window for
  * `scaling_eff` and the determinism probe, and `crawl_pipeline` adds the
  * resume cycle and the curate layer.
  */
object Workloads {

  /** Input sizes; `--smoke` shrinks them for the benchmark's own tests. */
  private final case class Sizes(scanPages: Int, crawlPages: Int, docs: Int, vecs: Int)
  private def sizes(rec: Record): Sizes =
    if (rec.args.smoke) Sizes(scanPages = 320, crawlPages = 160, docs = 120, vecs = 120)
    else Sizes(scanPages = 8000, crawlPages = 4000, docs = CurateData.SfDocs, vecs = CurateData.SfVecs)

  private val CurateQueries = Seq("d18_corpus_pipeline", "d20_dedup_components",
    "d40_crossdoc_removal", "d46_bpe_encode", "e07_pq_ann")

  // ---------------------------------------------------------------- passes

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def fmt(xs: Seq[Double]): String = xs.map(w => f"$w%.3f").mkString(" ")

  /** One measured pass: its timed seconds, the CPU seconds the JVM spent
    * over it, and the steal share of the host's CPU time meanwhile. */
  private final case class Pass(wallS: Double, cpuS: Double, steal: Double)

  /** A pass during which the hypervisor stole more than this share of the
    * host's CPU time measured the host, not the program. */
  private val MaxSteal = 0.005

  /** Run `pass` (which returns its timed seconds) until `windowS` seconds
    * have gone and at least `minPasses` ran, and return the passes that
    * count. Passes over `MaxSteal` do not count while the window lasts,
    * which stretches to 1.5 × `windowS` to collect `minPasses` that do; if
    * it still falls short, the least-stolen `minPasses` passes count. */
  private def measure(rec: Record, windowS: Double, minPasses: Int)
                     (pass: Int => Double): Seq[Pass] = {
    val passes = ArrayBuffer.empty[Pass]
    def clean = passes.filter(_.steal <= MaxSteal)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed < windowS ||
           (clean.size < minPasses && elapsed < 1.5 * windowS)) {
      val c0 = Host.processCpuS()
      val w = rec.steal.around(pass(passes.size))
      passes += Pass(w, Host.processCpuS() - c0, rec.steal.lastFrac)
      HeapWatch.afterPass()
    }
    val counted = if (clean.size >= minPasses) clean else passes.sortBy(_.steal).take(minPasses)
    rec.log(s"measured ${passes.size} passes, ${counted.size} count: ${fmt(passes.map(_.wallS).toSeq)}; " +
      s"cpu ${fmt(passes.map(_.cpuS).toSeq)}; steal ${fmt(passes.map(_.steal).toSeq)}")
    rec.put("passes_counted", counted.size, "count")
    rec.put("passes_run", passes.size, "count")
    counted.toSeq
  }

  /** Unmeasured passes until the JIT has seen `minPasses` passes and
    * `minS` seconds. */
  private def warm(rec: Record, minPasses: Int, minS: Double)(pass: => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    val untilS = if (rec.args.smoke) 0.0 else minS
    rec.tracer.paused {
      while (i < minPasses || (System.nanoTime() - t0) / 1e9 < untilS) { pass; i += 1 }
    }
    rec.log(s"warmed with $i passes")
  }

  /** The traced window: an untraced pass, then a traced pass with the
    * listener registered, alternating until `windowS` seconds have gone and
    * each kind ran `minEach` times. `traced` gets the listener and returns
    * (its timed seconds, the listener's window of its Spark work). */
  private def alternate(rec: Record, spark: SparkSession, windowS: Double, minEach: Int)
                       (untraced: Int => Double)
                       (traced: (Int, Probe) => (Double, Probe.Window))
      : (Seq[Double], Seq[Double], Seq[Probe.Window]) = {
    val u = ArrayBuffer.empty[Double]
    val t = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[Probe.Window]
    val t0 = System.nanoTime()
    while (t.size < minEach || (System.nanoTime() - t0) / 1e9 < windowS) {
      u += rec.steal.around(rec.tracer.paused(untraced(u.size)))
      val probe = new Probe
      probe.register(spark)
      val (w, win) = rec.steal.around(rec.tracer.span("pass", s"pass ${t.size}")(traced(t.size, probe)))
      probe.unregister(spark)
      t += w; windows += win
    }
    rec.log(s"untraced: ${fmt(u.toSeq)}; traced: ${fmt(t.toSeq)}")
    rec.tracer.attach(windows.flatMap(_.jobs).toSeq, windows.flatMap(_.stages).toSeq)
    rec.put("trace_overhead_frac", Stats.median(t.toSeq) / Stats.median(u.toSeq) - 1, "ratio")
    (u.toSeq, t.toSeq, windows.toSeq)
  }

  /** Set-up timed three times (once when tracing); `setup_s` is the median,
    * which the first, JIT-cold repetition does not move. */
  private def timedSetup(rec: Record)(one: => Unit): Unit = {
    val s = (0 until (if (rec.args.trace) 1 else 3)).map(_ => secondsOf(one))
    rec.log(s"set-up: ${fmt(s)}")
    rec.put("setup_s", Stats.median(s), "s")
  }

  /** The untraced end-to-end figures of one measured window. */
  private def putThroughput(rec: Record, passes: Seq[Pass], items: Long, bytes: Long): Unit = {
    val wall = Stats.median(passes.map(_.wallS))
    rec.put("wall_s", wall, "s")
    rec.put("docs_per_s", items / wall, "docs/s")
    rec.put("mb_per_s", bytes / 1e6 / wall, "MB/s")
    rec.put("heap_live_peak_mb", HeapWatch.peakMb, "MB")
  }

  /** `scaling_eff`: throughput at local[nproc] over nproc times throughput
    * at local[1], the same pass on the same input. Stops `spark`. */
  private def scaling(rec: Record, spark: SparkSession, wallsN: Seq[Double],
                      windowS: Double)(pass: SparkSession => Double): Unit = {
    Sessions.stop(spark)
    val one = Sessions.start(1, rec.args.work)
    try {
      rec.tracer.paused {
        pass(one) // a new session's first pass pays its one-time planning
        val walls1 = measure(rec, windowS, minPasses = 2)(_ => pass(one)).map(_.wallS)
        rec.put("scaling_eff", Stats.median(walls1) / (Host.nproc * Stats.median(wallsN)), "ratio")
      }
    } finally Sessions.stop(one)
  }

  /** Spark-layer figures over the traced passes, one window per pass. */
  private def putSparkLayer(rec: Record, windows: Seq[Probe.Window]): Unit = {
    def med(f: Probe.Window => Double) = Stats.median(windows.map(f))
    rec.put("pipeline.task_cpu_s", med(_.cpuS), "s")
    rec.put("pipeline.gc_s", med(_.gcS), "s")
    rec.put("pipeline.shuffle_write_mb", med(_.shuffleWriteMb), "MB")
    rec.put("pipeline.shuffle_fetch_wait_s", med(_.fetchWaitS), "s")
    rec.put("pipeline.spill_mb", med(_.spillMb), "MB")
    rec.put("pipeline.output_mb", med(_.outputMb), "MB")
    rec.put("pipeline.jobs", med(_.jobs.size.toDouble), "count")
    rec.put("pipeline.tasks", med(_.tasks.size.toDouble), "count")
    val taskMs = windows.flatMap(_.tasks.map(_.durationMs.toDouble))
    rec.put("pipeline.task_ms_p50", Stats.median(taskMs), "ms")
    rec.put("pipeline.task_ms_max", taskMs.max, "ms")
    rec.put("pipeline.task_skew", med(_.taskSkew), "ratio")
    // driver time of the traced layer calls outside any Spark job:
    // planning, commit and listing
    val t = rec.tracer
    val perPass = t.all.filter(_.kind == "pass").map { p =>
      t.children(p.id).filter(_.kind == "call").map(t.selfUs).sum / 1e6
    }
    rec.put("pipeline.driver_self_s", Stats.median(perPass), "s")
  }

  // -------------------------------------------------------- golden corpus

  /** Order-independent 64-bit checksum term of one (url, text) pair. */
  def docHash(url: String, text: String): Long = {
    val s = url + "\n" + text
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Wrapping sum (a SQL sum would fail on overflow under ANSI mode). */
  private def checksum(ds: Dataset[Long]): Long = ds.reduce(_ + _)

  private def pages(spark: SparkSession, in: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(in).as[PageRow]
  }

  /** The seeded golden pages as parquet, what every extraction pass reads,
    * with the checksum term of each page's `Corpus` expected text. */
  private final case class Corpus(in: String, n: Int, bytes: Long, expected: Map[String, Long]) {
    val want: Long = expected.values.sum
  }

  /** Write the pages (the set-up), and hash the `Corpus` expected texts. */
  private def setupCorpus(rec: Record, spark: SparkSession, n: Int): Corpus = {
    import spark.implicits._
    val in = s"${rec.args.work}/pages"
    timedSetup(rec) {
      CorpusSource.pages(spark, n, rec.args.seed, partitions = 4 * Host.nproc)
        .write.mode("overwrite").parquet(in)
    }
    val bytes = spark.read.parquet(in).agg(sum(length(col("html")))).head.getLong(0)
    val expected = CorpusSource.goldenExpected(spark, n, rec.args.seed)
      .map { case (u, t) => (u, docHash(u, t)) }.collect().toMap
    Corpus(in, n, bytes, expected)
  }

  /** Gate: extraction text byte-identical to `expectedText`, counted per
    * url (missing, extra, repeated and differing docs all count). */
  private def goldenGate(rec: Record, c: Corpus, got: Dataset[(String, Long)], what: String): Unit = {
    val rows = got.collect()
    val byUrl = rows.toMap
    val mismatches = (c.expected.keySet ++ byUrl.keySet).count(u => c.expected.get(u) != byUrl.get(u)) +
      (rows.length - byUrl.size)
    rec.check(mismatches == 0, s"$what: $mismatches of ${c.n} docs differ from Corpus expectedText")
  }

  // ----------------------------------------------------------- extract_scan

  /** `Extract.run` with a stopwatch: the same `Extractor.extract` call per
    * page, with one `ExtractorState` per partition, timed per page. A page
    * `PdfBranch.isPdf` accepts books its time to the PDF layer. Each task
    * hands its figures to `into` once its partition is done, so the output
    * goes through the same checksum sink as an untraced pass. */
  private def tracedExtract(ds: Dataset[PageRow],
                            into: CollectionAccumulator[ScanLayers]): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    val cfg = ExtractConfig()
    ds.mapPartitions { it =>
      val st = new ExtractorState()
      var pdfNs, pdfDocs, pdfNotOk, htmlBytes = 0L
      val docNs = Array.newBuilder[Long]
      it.map { p =>
        val t0 = System.nanoTime()
        val d = Extractor.extract(p.url, p.html, cfg, st)
        val dt = System.nanoTime() - t0
        docNs += dt
        if (p.html != null && p.html.nonEmpty && PdfBranch.isPdf(p.html)) {
          pdfNs += dt; pdfDocs += 1
          if (d.status != "ok") pdfNotOk += 1
        } else if (p.html != null) htmlBytes += p.html.length
        d
      } ++ {
        into.add(ScanLayers(st.tokenizeNanos, st.domNanos, st.classifyNanos, st.assembleNanos,
          pdfNs, pdfDocs, pdfNotOk, htmlBytes, docNs.result().toSeq))
        Iterator.empty
      }
    }
  }

  /** The partition figures of one traced pass, summed. */
  private def sumLayers(parts: Seq[ScanLayers]): ScanLayers =
    ScanLayers(parts.map(_.tokNs).sum, parts.map(_.domNs).sum, parts.map(_.clsNs).sum,
      parts.map(_.asmNs).sum, parts.map(_.pdfNs).sum, parts.map(_.pdfDocs).sum,
      parts.map(_.pdfNotOk).sum, parts.map(_.htmlBytes).sum, parts.flatMap(_.docNs))

  def extractScan(rec: Record): Unit = {
    val spark = Sessions.start(Host.nproc, rec.args.work)
    import spark.implicits._
    val c = setupCorpus(rec, spark, sizes(rec).scanPages)
    goldenGate(rec, c, Extract.run(pages(spark, c.in)).map(d => (d.url, docHash(d.url, d.text))),
      "extract_scan golden")

    /** One checked pass through `Extract.run` into a checksum sink. */
    def pass(s: SparkSession, what: String): Double = {
      var got = 0L
      val w = secondsOf(rec.tracer.span("call", "Extract.run") {
        got = checksum(Extract.run(pages(s, c.in)).map(d => docHash(d.url, d.text)))
      })
      rec.check(got == c.want, s"$what checksum $got != expected ${c.want}")
      w
    }
    warm(rec, minPasses = 3, minS = 8.0)(pass(spark, "warm-up pass"))
    HeapWatch.reset()
    if (!rec.args.trace) {
      putThroughput(rec, measure(rec, rec.args.seconds, minPasses = 5)(_ => pass(spark, "pass")), c.n, c.bytes)
      Sessions.stop(spark)
    } else {
      val passes = ArrayBuffer.empty[ScanLayers]
      val (untraced, _, windows) = alternate(rec, spark, 0.5 * rec.args.seconds, minEach = 3)(
        _ => pass(spark, "untraced pass")) { (_, probe) =>
        val acc = spark.sparkContext.collectionAccumulator[ScanLayers]("scan layers")
        var got = 0L
        val w = secondsOf(rec.tracer.span("call", "Extractor.extract") {
          got = checksum(tracedExtract(pages(spark, c.in), acc).map(d => docHash(d.url, d.text)))
        })
        val win = probe.take(spark)
        rec.check(got == c.want, s"traced pass checksum $got != expected ${c.want}")
        passes += sumLayers(acc.value.asScala.toSeq)
        (w, win)
      }
      putSparkLayer(rec, windows)
      def med(f: ScanLayers => Double) = Stats.median(passes.map(f).toSeq)
      rec.put("htmltok.self_s", med(_.tokNs / 1e9), "s")
      rec.put("htmltok.mb_per_s", med(l => l.htmlBytes / 1e6 / (l.tokNs / 1e9)), "MB/s")
      rec.put("dom.self_s", med(_.domNs / 1e9), "s")
      rec.put("extract.classify_s", med(_.clsNs / 1e9), "s")
      rec.put("extract.assemble_s", med(_.asmNs / 1e9), "s")
      val docUs = passes.flatMap(_.docNs).map(_ / 1e3).toSeq
      rec.put("extract.doc_us_p50", Stats.quantile(docUs, 0.5), "us")
      rec.put("extract.doc_us_p99", Stats.quantile(docUs, 0.99), "us")
      rec.put("pdf.self_s", med(_.pdfNs / 1e9), "s")
      rec.put("pdf.unparsed_frac", med(l => l.pdfNotOk.toDouble / math.max(1L, l.pdfDocs)), "ratio")
      rec.put("pipeline.kernel_share", Stats.median(passes.zip(windows).map { case (l, w) =>
        (l.tokNs + l.domNs + l.clsNs + l.asmNs) / 1e9 / w.cpuS
      }.toSeq), "ratio")
      // the determinism probe: every local[1] pass must reproduce the
      // checksum the local[nproc] passes did
      scaling(rec, spark, untraced, 0.3 * rec.args.seconds)(s => pass(s, "local[1] pass"))
    }
  }

  // --------------------------------------------------------- crawl_pipeline

  /** Recursive size of the data files under `dir` (checksums and markers
    * excluded). */
  private def storedBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(storedBytes).sum
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0L
    else dir.length()

  /** (rows, (url, text) checksum, whole-row checksum) of a pipeline output. */
  private def outputSums(spark: SparkSession, out: String): (Long, Long, Long) = {
    import spark.implicits._
    ExtractPipeline.output(spark, out)
      .select(col("bucket"), col("url"), col("text"), col("nSpans"), col("charset"),
        col("truncated"), col("docStatus"), col("htmlBytes"))
      .as[(Int, String, String, Int, String, Boolean, String, Long)]
      .map { case (b, u, t, s, c, tr, st, hb) =>
        (1L, docHash(u, t), docHash(u, s"$b|$s|$c|$tr|$st|$hb|$t"))
      }
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
  }

  def crawlPipeline(rec: Record): Unit = {
    val conf = PipelineConf() // graft.Main's defaults
    val spark = Sessions.start(Host.nproc, rec.args.work)
    val c = setupCorpus(rec, spark, sizes(rec).crawlPages)
    val root = new File(rec.args.work, "crawl")
    var freshRows = Option.empty[Long]
    var storedRatio = 0.0

    /** Gate on a finished output directory: golden text per url, and the
      * same persisted rows as the first fresh run. */
    def gate(s: SparkSession, out: String, what: String): Unit = {
      val (cnt, g, r) = outputSums(s, out)
      if (rec.check(cnt == c.n && g == c.want, s"$what: $cnt rows, checksum $g != expected ${c.want}")) {
        if (freshRows.isEmpty) freshRows = Some(r)
        rec.check(freshRows.contains(r), s"$what: persisted rows differ from the first fresh run's")
      }
    }

    /** One timed fresh run into a new directory; `inspect` sees the output
      * before the gate checks it (warm-up runs go unchecked) and removes it. */
    def freshPass(s: SparkSession, what: String, inspect: String => Unit = _ => (),
                  checked: Boolean = true): Double = {
      val out = new File(root, "fresh").getPath
      val w = secondsOf(rec.tracer.span("call", "ExtractPipeline.run") {
        ExtractPipeline.run(s, pages(s, c.in), out, conf)
      })
      inspect(out)
      if (checked) gate(s, out, what)
      if (storedRatio == 0.0)
        storedRatio = (storedBytes(new File(ExtractPipeline.dataDir(out))) +
          storedBytes(new File(ExtractPipeline.lineageDir(out)))).toDouble / c.bytes
      FileUtils.deleteDirectory(new File(out))
      w
    }

    /** A run that stops after half the buckets, then the timed resume; its
      * output must equal a fresh run's. Traced runs only: its figures are
      * per-layer ones. */
    def resumeCycle(s: SparkSession): Unit = {
      val out = new File(root, "resume").getPath
      ExtractPipeline.run(s, pages(s, c.in), out, conf,
        onlyBuckets = Some((0 until conf.numBuckets / 2).toSet))
      val skipped = ExtractPipeline.completedBuckets(s, out).size
      val resumeS = secondsOf(rec.tracer.span("call", "ExtractPipeline.run(resume)") {
        ExtractPipeline.run(s, pages(s, c.in), out, conf, resume = true, attempt = 1)
      })
      gate(s, out, "resumed output")
      rec.put("pipeline.resume_s", resumeS, "s")
      rec.put("pipeline.resume_skipped_buckets", skipped, "count")
      FileUtils.deleteDirectory(new File(out))
    }

    // the end-to-end passes need a longer warm-up than the first three
    // passes; a traced run, whose figures have no bound, keeps the short
    // one to leave time for the resume cycle and the curate layer
    if (rec.args.trace) warm(rec, minPasses = 3, minS = 8.0)(freshPass(spark, "warm-up pass", checked = false))
    else warm(rec, minPasses = 6, minS = 14.0)(freshPass(spark, "warm-up pass", checked = false))
    HeapWatch.reset()
    if (!rec.args.trace) {
      putThroughput(rec, measure(rec, rec.args.seconds, minPasses = 5)(_ => freshPass(spark, "pass")),
        c.n, c.bytes)
      Sessions.stop(spark)
    } else {
      val kernelS = ArrayBuffer.empty[Double]
      val lineageS = ArrayBuffer.empty[Double]
      val (_, _, windows) = alternate(rec, spark, 0.5 * rec.args.seconds, minEach = 2)(
        _ => freshPass(spark, "untraced pass")) { (_, probe) =>
        var win: Probe.Window = null
        val w = freshPass(spark, "traced pass", inspect = { out =>
          win = probe.take(spark)
          lineageS += secondsOf(rec.tracer.span("call", "ExtractPipeline.lineage") {
            val lin = ExtractPipeline.lineage(spark, out).agg(sum("docs"), sum(col("tokenizeNanos") +
              col("domNanos") + col("classifyNanos") + col("assembleNanos"))).head
            rec.check(lin.getLong(0) == c.n, s"lineage counts ${lin.getLong(0)} docs, not ${c.n}")
            kernelS += lin.getLong(1) / 1e9
          })
        })
        (w, win)
      }
      putSparkLayer(rec, windows)
      rec.put("pipeline.kernel_share",
        Stats.median(kernelS.zip(windows).map { case (k, w) => k / w.cpuS }.toSeq), "ratio")
      rec.put("pipeline.lineage_s", Stats.median(lineageS.toSeq), "s")
      rec.put("pipeline.stored_bytes_ratio", storedRatio, "ratio")
      rec.tracer.span("pass", "resume")(resumeCycle(spark))
      curateLayer(rec, spark)
      Sessions.stop(spark)
    }
    FileUtils.deleteDirectory(root)
  }

  // ------------------------------------------------------------ curate layer

  /** The curate layer, measured in the traced `crawl_pipeline` run: five
    * `SparkEntry` data queries over seeded documents and embeddings tables
    * of the sf0.01 test tables' size and shape (`CurateData`), the
    * downstream stage of a crawl. The first pass writes each query's full
    * output, which the launcher compares with `SparkEntry.oracleSql` in
    * DuckDB; that check covers the two timed passes too, which are traced
    * and run the same queries over the same tables into the noop sink. A
    * query that fails counts as failed and its time still
    * counts. */
  private def curateLayer(rec: Record, spark: SparkSession): Unit = {
    val sz = sizes(rec)
    val dir = s"${rec.args.work}/tables"
    CurateData.write(spark, rec.args.seed, dir, sz.docs, sz.vecs)
    CurateQueries.foreach { q =>
      val out = s"${rec.args.work}/curate_out/$q"
      val written = rec.attempt(s"$q (oracle output)") {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
      }
      // a query that threw has already counted as failed
      if (written.isDefined) rec.oracleCheck(q, out, dir, SparkEntry.oracleSql(q))
    }
    rec.log("oracle outputs written")

    // two traced passes; the per-query figures are their medians
    val perQuery = CurateQueries.map(_ -> ArrayBuffer.empty[(Double, Probe.Window)]).toMap
    (0 until 2).foreach { i =>
      val probe = new Probe
      probe.register(spark)
      rec.steal.around(rec.tracer.span("pass", s"curate $i") {
        val walls = CurateQueries.map { q =>
          val w = secondsOf(rec.tracer.span("call", q) {
            rec.attempt(q)(SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save())
          })
          perQuery(q) += ((w, probe.take(spark)))
          w
        }
        rec.log(s"queries: ${fmt(walls)}")
      })
      probe.unregister(spark)
    }
    val windows = perQuery.values.flatMap(_.map(_._2)).toSeq
    rec.tracer.attach(windows.flatMap(_.jobs), windows.flatMap(_.stages))
    perQuery.foreach { case (q, runs) =>
      def med(f: Probe.Window => Double) = Stats.median(runs.map(r => f(r._2)).toSeq)
      val p = s"curate.$q"
      rec.put(s"$p.wall_s", Stats.median(runs.map(_._1).toSeq), "s")
      rec.put(s"$p.shuffle_mb", med(_.shuffleWriteMb), "MB")
      rec.put(s"$p.spill_mb", med(_.spillMb), "MB")
      rec.put(s"$p.gc_s", med(_.gcS), "s")
      rec.put(s"$p.jobs", med(_.jobs.size.toDouble), "count")
      rec.put(s"$p.tasks", med(_.tasks.size.toDouble), "count")
      rec.put(s"$p.exchanges", med(_.exchanges.toDouble), "count")
      rec.put(s"$p.checkpoint_mb", med(_.checkpointBytes / 1e6), "MB")
      rec.put(s"$p.graft_calls", med(_.graftCalls.toDouble), "count")
    }
  }
}
