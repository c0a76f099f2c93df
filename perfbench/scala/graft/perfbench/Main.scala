package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{CdcRules, PersistedIndex}
import graft.streaming.IndexMaintenance

/** The JVM half of the benchmark (perfbench/run.py is the other half: it
  * builds, generates the inputs, runs this, checks the dumped results in
  * DuckDB and prints the metrics).
  *
  * Arguments are key=value pairs: workload, seconds, trace (0|1), corpus
  * (input directory), gen_s (seconds its generation took), tail (tail
  * percentile), out (result directory), plus requests (serve) and feed
  * (maintain). Paths are relative to the working directory, which
  * run.py makes fresh for every run, so `staging/`, `spark-warehouse/` and
  * the maintenance loop roots all start empty. */
object Main {

  val Families: Seq[IndexMaintenance.Family] =
    Seq(IndexMaintenance.Postings, graft.queries.SimilarityQueries.IvfMaintenance)

  /** What one measured loop produced. `latMs` holds one sample per
    * operation (serve: one request, maintain: one round's probes); `work`
    * counts requests or changes. */
  final case class Loop(latMs: Seq[Double], work: Double, seconds: Double,
      attempted: Long, failed: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val corpus = opt("corpus")
    val genS = opt("gen_s").toDouble
    val tailPct = opt("tail").toDouble
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val boot0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        graft.Launch.derivedShufflePartitions(corpus, cpus).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.nanoTime() - boot0) / 1e9
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)

    val res = new Result
    res.num("cpus", cpus)
    res.num("boot_s", bootS)
    val w: Workload = workload match {
      case "serve" => new Serve(spark, readJsonList(opt("requests")))
      case "maintain" => new Maintain(spark, Paths.get(opt("feed")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val off = new Tracer(false, spark.sparkContext)
    val setup0 = System.nanoTime()
    w.setup(corpus, 0, off)
    res.num("setup_s", genS + bootS + (System.nanoTime() - setup0) / 1e9)

    // A traced run compares an untraced and a traced loop, each after a
    // set-up of its own on a copy of the corpus with the JVM already warm,
    // so their difference is the tracing overhead.
    def setupOn(rep: Int, t: Tracer): Double = {
      val copy = s"${corpus}_$rep"
      copyTree(Paths.get(corpus), Paths.get(copy))
      val t0 = System.nanoTime()
      t.span("bench", "setup", 0L)(w.setup(copy, rep, t))
      (System.nanoTime() - t0) / 1e9
    }
    val untracedSetup = if (trace) setupOn(1, off) else 0.0
    val loop = w.measure(seconds, off)
    res.loop("", loop, tailPct)
    res.num("peak_rss_mb", peakRssMb)

    if (trace) {
      val tracer = new Tracer(true, spark.sparkContext)
      listener.unattributed = 0L
      val tracedSetup = setupOn(2, tracer)
      val traced = w.measure(seconds, tracer)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      res.loop("traced_", traced, tailPct)
      res.num("trace_overhead.setup_s", tracedSetup - untracedSetup)
      Seq("throughput", "lat_p50_ms", "lat_tail_ms").foreach { k =>
        res.num(s"trace_overhead.$k", res.get(s"traced_$k").get - res.get(k).get)
      }
      // peak RSS only rises: the overhead is how far the traced part
      // (its set-up included) raised it
      res.num("trace_overhead.peak_rss_mb", peakRssMb - res.get("peak_rss_mb").get)
      Layers.report(res, w, tracer, listener, traced, cpus)
      val k0 = System.nanoTime()
      Kernels.run(spark, w.dir, tracer, res, maintenanceCycle = workload == "serve")
      res.num("kernels_s", (System.nanoTime() - k0) / 1e9)
      tracer.write(out.resolve("spans.jsonl"), listener.workOf)
      res.num("jvm.gc_s", gcSeconds)
      res.num("jvm.heap_peak_mb", heapPeakMb)
    }

    // correctness gate, outside every timed region
    val g0 = System.nanoTime()
    w.gate(out, res)
    res.num("gate_s", (System.nanoTime() - g0) / 1e9)
    Files.writeString(out.resolve("result.json"), res.json)
    spark.stop()
  }

  // ---- workloads ---------------------------------------------------------

  abstract class Workload(val spark: SparkSession) {
    /** the corpus the measured loop runs on (the last set-up's) */
    var dir: String = _
    var session: SparkSession = _
    def setup(corpus: String, rep: Int, t: Tracer): Unit
    def measure(seconds: Double, t: Tracer): Loop
    def gate(out: Path, res: Result): Unit

    protected def fresh(corpus: String, rep: Int): SparkSession = {
      // PaperXmlGen and Spark spill files go under java.io.tmpdir; one per
      // repetition keeps a later set-up from reusing an earlier one's files
      val tmp = Paths.get(s"tmp/$rep").toAbsolutePath
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      dir = corpus
      session = spark.newSession()
      session
    }

    /** Construct, plan (traced runs only) and collect, the way a serving
      * caller receives the answer. */
    def run(t: Tracer, s: SparkSession, name: String): (DataFrame, Seq[Row]) = {
      val df = t.span("queries", "construct")(SparkEntry.queries(name)(s, dir))
      if (t.enabled) t.span("spark", "plan")(df.queryExecution.executedPlan)
      (df, t.span("spark", "exec")(df.collect().toSeq))
    }

    /** Dump each query's result for run.py's DuckDB oracle check. */
    protected def dumpForOracle(out: Path, results: Map[String, DataFrame], s: SparkSession): Unit = {
      graft.queries.SfPins.register(s, dir)
      val oracles = SparkEntry.oracleSql
      results.foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve("check").resolve(n).toString)
      }
      val json = results.keys.toSeq.sorted.filter(oracles.contains)
        .map(n => s"${Json.str(n)}:${Json.str(oracles(n))}").mkString("{", ",", "}")
      Files.writeString(out.resolve("oracle_sql.json"), json)
      Files.writeString(out.resolve("corpus.txt"), dir)
    }
  }

  /** A closed loop of one client over the seeded request sequence. The
    * query mix is the set of queries the sequence names. */
  final class Serve(spark: SparkSession, requests: Seq[String]) extends Workload(spark) {
    private val mix = requests.distinct.sorted
    private val first = mutable.Map.empty[String, DataFrame]
    private val expected = mutable.Map.empty[String, Int]
    private def digest(rows: Seq[Row]): Int =
      scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString))
    def setup(corpus: String, rep: Int, t: Tracer): Unit = {
      val s = fresh(corpus, rep)
      // the first call of each query builds its persisted index and warms
      // the JVM; its answer is what every later request must return and
      // what the oracle check reads
      mix.foreach { q =>
        val (df, rows) = t.span("bench", s"build:$q")(run(t, s, q))
        first(q) = s.createDataFrame(rows.asJava, df.schema)
        expected(q) = digest(rows)
      }
    }
    def measure(seconds: Double, t: Tracer): Loop = {
      val lat = mutable.ArrayBuffer.empty[Double]
      var failed = 0L
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var i = 0
      // past the deadline the client finishes the current block of the
      // sequence, so every run serves each query equally often
      while (System.nanoTime() < deadline || i % mix.size != 0) {
        val q = requests(i % requests.size)
        val q0 = System.nanoTime()
        val ok =
          try digest(t.span("bench", s"request:$q", i + 1L)(run(t, session, q))._2) == expected(q)
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e"); false }
        lat += (System.nanoTime() - q0) / 1e6
        if (!ok) failed += 1
        i += 1
      }
      Loop(lat.toSeq, lat.size.toDouble, (System.nanoTime() - t0) / 1e9, lat.size.toLong, failed)
    }
    def gate(out: Path, res: Result): Unit = dumpForOracle(out, first.toMap, session)
  }

  /** Seeded CDC micro-batches through the streaming maintenance loop of
    * the postings and IVF families, one client thread per family, each
    * probing its family after every batch it lands. Batches are 5% of a
    * family's base, so a fold follows every third batch and the rounds
    * of a cycle probe 1, 2 and 0 live segments: the median round is the
    * middle case, not a point between two. */
  final class Maintain(spark: SparkSession, feed: Path) extends Workload(spark) {
    private val meta = Json.parseFlat(Files.readString(feed.resolve("meta.json")))
    private val nBatches = meta("batches").toInt
    private var roots: Map[String, Path] = Map.empty
    private var base0: Map[String, Path] = Map.empty
    private val applied = mutable.Map.empty[String, Int]
    private val seen = new java.util.concurrent.ConcurrentHashMap[Path, java.lang.Long]()
    val folds = new AtomicLong
    val foldNs = new AtomicLong
    val lands = new AtomicLong
    val landNs = new AtomicLong
    val segmentsAtProbe = new AtomicLong
    val probes = new AtomicLong
    val probeNs = new AtomicLong

    private def batchFrame(s: SparkSession, fam: IndexMaintenance.Family, b: Int): DataFrame =
      s.read.parquet(feed.resolve(fam.name).resolve(f"batch-$b%04d.parquet").toString)

    def setup(corpus: String, rep: Int, t: Tracer): Unit = {
      val s = fresh(corpus, rep)
      Seq(folds, foldNs, lands, landNs, segmentsAtProbe, probes, probeNs).foreach(_.set(0))
      base0 = Families.map(f => f.name -> t.span("operators", s"build:${f.name}")(f.ensureBase(s, corpus))).toMap
      roots = Families.map(f => f.name -> Paths.get(s"loops/$rep/${f.name}").toAbsolutePath).toMap
      roots.values.foreach(Files.createDirectories(_))
      Families.foreach(f => applied(f.name) = 0)
      seen.clear()
      // warm-up: one probe per family over the untouched base, then the
      // first batch landed on a throwaway root and probed, so the measured
      // loop does not pay for the first segment-serving probe's JIT and
      // file-cache warming
      Families.foreach(f => t.span("bench", s"warm:${f.name}") {
        IndexMaintenance.probe(s, corpus, roots(f.name), f).collect()
        val warm = Files.createDirectories(Paths.get(s"loops/warm-$rep/${f.name}").toAbsolutePath)
        IndexMaintenance.applyBatch(s, corpus, warm, batchFrame(s, f, 0), 0L, f)
        IndexMaintenance.probe(s, corpus, warm, f).collect()
      })
    }

    def measure(seconds: Double, t: Tracer): Loop = {
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val changes = new AtomicLong
      val failed = new AtomicLong
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val next = Families.map(f => applied(f.name)).toArray
      val live = new Array[Int](Families.size)
      val go = new Array[Boolean](Families.size)
      // Which families take another step: before the deadline all of them,
      // past it those with live segments, so a run ends on whole compaction
      // cycles. A failure stops every family, since later batches would
      // land on an unknown state.
      def plan(): Unit = Families.indices.foreach { i =>
        go(i) = failed.get == 0 && next(i) < nBatches && (System.nanoTime() < deadline || live(i) > 0)
      }
      plan()
      // The clients move in lockstep rounds: both land a batch, then both
      // probe, so a probe overlaps the other family's probe and never its
      // fold. A round's latency runs from the start of its probes until
      // both answers are back.
      val roundStart = new AtomicLong
      val roundProbes = new AtomicLong
      val landed = new java.util.concurrent.CyclicBarrier(Families.size,
        () => roundStart.set(System.nanoTime()))
      val probed = new java.util.concurrent.CyclicBarrier(Families.size, () => {
        if (roundProbes.getAndSet(0) > 0) lat.add((System.nanoTime() - roundStart.get) / 1e6)
        plan()
      })
      val clients = Families.zipWithIndex.map { case (f, i) =>
        val root = roots(f.name)
        val th = new Thread(() => {
          while (go.exists(identity)) {
            val mine = go(i)
            val b = next(i)
            val req = 2L * b + 1 + i
            def attempt(what: String)(body: => Unit): Unit =
              try body
              catch { case e: Exception =>
                System.err.println(s"[perfbench] maintain ${f.name} batch $b $what failed: $e")
                failed.incrementAndGet()
              }
            if (mine) attempt("apply") {
              val df = batchFrame(session, f, b)
              val floorBefore = IndexMaintenance.resolve(session, dir, root, f)._2
              val l0 = System.nanoTime()
              t.span("streaming", "apply_batch", req)(
                IndexMaintenance.applyBatch(session, dir, root, df, b.toLong, f))
              val applyNs = System.nanoTime() - l0
              val (_, floorAfter, segs) = IndexMaintenance.resolve(session, dir, root, f)
              if (floorAfter != floorBefore) { folds.incrementAndGet(); foldNs.addAndGet(applyNs) }
              else { lands.incrementAndGet(); landNs.addAndGet(applyNs) }
              recordWrites(root)
              live(i) = segs.size
            }
            landed.await()
            if (mine && failed.get == 0) attempt("probe") {
              val p0 = System.nanoTime()
              t.span("bench", s"probe:${f.name}", req) {
                val pdf = t.span("streaming", "probe")(IndexMaintenance.probe(session, dir, root, f))
                if (t.enabled) t.span("spark", "plan")(pdf.queryExecution.executedPlan)
                t.span("spark", "exec")(pdf.collect())
              }
              val probeNanos = System.nanoTime() - p0
              probes.incrementAndGet()
              probeNs.addAndGet(probeNanos)
              segmentsAtProbe.addAndGet(live(i))
              roundProbes.incrementAndGet()
              changes.addAndGet(meta(s"${f.name}.changes.$b").toLong)
              next(i) = b + 1
            }
            probed.await()
          }
          applied.synchronized(applied(f.name) = next(i))
        })
        th.start(); th
      }
      clients.foreach(_.join())
      val el = (System.nanoTime() - t0) / 1e9
      Loop(lat.asScala.map(_.doubleValue).toSeq, changes.get.toDouble, el,
        probes.get + failed.get, failed.get)
    }

    /** Files under a loop root are immutable once published, so the bytes
      * written are the sizes of every distinct file ever seen there. */
    private def recordWrites(root: Path): Unit = {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).forEach(p => seen.put(p, Files.size(p)))
      finally st.close()
    }

    private def treeBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val st = Files.walk(p)
        try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally st.close()
      }

    /** Row count of the serving set base ∖ dead ∪ fresh. */
    private def servingCount(f: IndexMaintenance.Family, dead: DataFrame,
        fresh: DataFrame, split: Long): Long = {
      val table = if (f.idCol == "doc_id") "documents" else "embeddings"
      graft.Tables(session, dir, table).filter(col(f.idCol) <= split).select(f.idCol)
        .join(dead, Seq(f.idCol), "left_anti")
        .unionByName(fresh.select(f.idCol)).distinct().count()
    }

    def gate(out: Path, res: Result): Unit = {
      var payload = 0.0
      var spaceEnd = 0.0
      var spaceScratch = 0.0
      var mismatches = 0L
      Families.foreach { f =>
        val n = applied(f.name)
        val cum = (0 until n).map(b => batchFrame(session, f, b).withColumn("batch", lit(b.toLong)))
          .reduce(_ unionByName _)
          .groupBy(f.idCol)
          .agg(max(struct(col("batch"), col("op"), col("payload"))).as("w"))
          .select(col(f.idCol), col("w.op").as("op"), col("w.payload").as("payload"))
        val split = PersistedIndex.readSplit(session, base0(f.name))
        val (dead, freshRows) = CdcRules.feedFrames(cum, f.idCol, f.payloadCol, split)
        val truth = f.serve(session, dir, base0(f.name), dead, freshRows)
          .collect().map(_.toString).sorted.toSeq
        val probe = IndexMaintenance.probe(session, dir, roots(f.name), f)
          .collect().map(_.toString).sorted.toSeq
        if (truth != probe) {
          mismatches += 1
          System.err.println(s"[perfbench] maintain ${f.name}: final probe differs from " +
            s"the batch feed face (${probe.size} vs ${truth.size} rows)")
        }
        payload += (0 until n).map(b => meta(s"${f.name}.payload_bytes.$b")).sum
        // serving bytes now (live base generation, or the published base
        // while no fold has run, plus everything under the loop root)
        // against the bytes per serving row of the freshly built base
        val (servingBase, _, _) = IndexMaintenance.resolve(session, dir, roots(f.name), f)
        val inRoot = servingBase.startsWith(roots(f.name))
        spaceEnd += treeBytes(roots(f.name)) + (if (inRoot) 0L else treeBytes(servingBase))
        val baseRows = f.baseCount(session, base0(f.name)).toDouble
        spaceScratch += treeBytes(base0(f.name)) *
          servingCount(f, dead, freshRows, split) / baseRows
      }
      val written = seen.values.asScala.map(_.longValue).sum.toDouble
      res.num("maintain.batches", applied.values.sum)
      res.num("streaming.bytes_written", written)
      res.num("streaming.write_amp", written / payload)
      res.num("streaming.space_amp", spaceEnd / spaceScratch)
      res.num("maintain.mismatches", mismatches)
    }
  }

  // ---- helpers -----------------------------------------------------------

  def readJsonList(path: String): Seq[String] =
    "\"([^\"]+)\"".r.findAllMatchIn(Files.readString(Paths.get(path))).map(_.group(1)).toSeq

  def copyTree(src: Path, dst: Path): Unit = {
    val st = Files.walk(src)
    try st.iterator().asScala.toSeq.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally st.close()
  }

  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Linear-interpolated percentile, the numpy default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (v.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
  }
}

/** Flat numeric result record, written as one JSON object. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = Json.num(v)
  def nums(k: String, vs: Seq[Double]): Unit = fields(k) = vs.map(Json.num).mkString("[", ",", "]")
  def loop(prefix: String, l: Main.Loop, tailPct: Double): Unit = {
    nums(prefix + "lat_ms", l.latMs)
    num(prefix + "lat_p50_ms", Main.percentile(l.latMs, 50))
    num(prefix + "lat_tail_ms", Main.percentile(l.latMs, tailPct))
    num(prefix + "throughput", l.work / l.seconds)
    num(prefix + "loop_s", l.seconds)
    num(prefix + "attempted", l.attempted)
    num(prefix + "failed", l.failed)
  }
  def get(k: String): Option[Double] = fields.get(k).map(_.toDouble)
  def json: String = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** A flat {"key": number} object. */
  def parseFlat(s: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
}
