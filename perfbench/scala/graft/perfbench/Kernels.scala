package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Bloom, CdcRules, Dedup, PersistedIndex, Rank, TopK}
import graft.streaming.IndexMaintenance
import graft.plans._

/** The kernel section of the traced run: every native kernel in `plans/`
  * and the listed operators, timed in isolation over the workload's
  * corpus, each checked against its interpreted path (codegen off) or
  * against another spelling of the same answer. A differing checksum is
  * counted in `kernels.mismatches`, which fails the run. */
object Kernels {
  /** the corpus is repeated this many times (ids shifted) so one timed
    * evaluation does enough work to measure */
  val Copies = 2
  val TimedRuns = 2

  /** `maintenanceCycle`: also time one postings maintenance cycle, for a
    * workload whose own loop does not maintain an index. */
  def run(spark: SparkSession, dir: String, t: Tracer, res: Result,
      maintenanceCycle: Boolean): Unit = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    val copies = s.range(Copies).toDF("k")
    val docs = graft.Tables(s, dir, "documents")
      .crossJoin(copies)
      .select((col("doc_id") * Copies + col("k")).as("id"), col("text"),
        split(col("text"), " ").as("tok"), reverse(split(col("text"), " ")).as("rtok"),
        col("lang"))
      .repartition(s.sparkContext.defaultParallelism).cache()
    val embs = graft.Tables(s, dir, "embeddings")
      .crossJoin(copies)
      .select((col("vec_id") * Copies + col("k")).as("id"), col("embedding"),
        reverse(col("embedding")).as("remb"), col("label"))
      .repartition(s.sparkContext.defaultParallelism).cache()
    val nDocs = docs.count()
    val nEmbs = embs.count()
    var mismatches = 0L

    def digest(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def interpreted[T](body: => T): T = {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try body
      finally {
        s.conf.unset("spark.sql.codegen.wholeStage")
        s.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    def check(name: String, a: (Long, Long), b: (Long, Long)): Unit =
      if (a != b || a._1 == 0L) {
        mismatches += 1
        System.err.println(s"[perfbench] kernel $name: checksum $a differs from $b")
      }
    /** rows per second of one full evaluation (construction included),
      * the best of [[TimedRuns]] */
    def rate(layer: String, name: String, rows: Long)(df: => DataFrame): Unit = {
      val secs = (0 until TimedRuns).map { _ =>
        val t0 = System.nanoTime()
        t.span(layer, name)(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      res.num(s"$layer.$name.rows_per_s", rows / secs.min)
    }
    val text = expression(col("text"))
    val tok = expression(col("tok"))
    val rtok = expression(col("rtok"))
    val rtext = expression(array_join(col("rtok"), " "))
    val emb = expression(col("embedding"))
    val remb = expression(col("remb"))
    def atLeast(n: Int, k: Column) = when(size(col("tok")) >= n, k)
    val onDocs = Seq(
      "det_hash60" -> column(DetHash60Expression(text)),
      "lcs_len" -> column(LcsLenExpression(tok, rtok)),
      "tok_edit_dist" -> column(EditDistExpression(tok, rtok)),
      "bleu_counts" -> column(BleuCountsExpression(text, rtext)),
      "chrf_counts" -> column(ChrfCountsExpression(text, rtext)),
      "nfc_normalize" -> column(NfcNormalizeExpression(text)),
      "strip_accents" -> column(StripAccentsExpression(text)),
      "phash64" -> column(Phash64Expression(text, nullOnShort = true)),
      "rep_stats" -> column(RepStatsExpression(text)),
      "simhash" -> column(SimhashExpression(text, 64)),
      "minhash_sigs" -> atLeast(3,
        column(MinhashSigsExpression(text, Dedup.hashA, Dedup.hashB, Dedup.P, 3))),
      "winnow_mins" -> atLeast(8, column(WinnowMinsExpression(text, 4, 5))),
      "fast_match" -> column(FastMatchExpression(text,
        expression(typedLit(graft.queries.MatchQueries.gazetteer.toArray)))))
    val onEmbs = Seq(
      "vec_dot" -> column(VecDotExpression(emb, remb)),
      "vec_sqdist" -> column(VecSqDistExpression(emb, remb)),
      "broadcast_data" -> element_at(
        BroadcastDataExpression.column(s, (0 until 64).map(_.toLong).toArray,
          ArrayType(LongType, containsNull = false), "perfbench"),
        (col("label") + 1).cast(IntegerType)))
    // each expression is checked against its interpreted evaluation (one
    // job per mode for all of them), then timed alone with codegen
    Seq((docs, onDocs, nDocs), (embs, onEmbs, nEmbs)).foreach { case (in, ks, rows) =>
      def digests(): Seq[(Long, Long)] = {
        val r = in.select(ks.map { case (n, k) => xxhash64(col("id"), k).as(n) }: _*)
          .agg(count(lit(1)), ks.map(k => bit_xor(col(k._1))): _*).collect()(0)
        ks.indices.map(i => (r.getLong(0), r.getLong(i + 1)))
      }
      val (cg, ip) = (digests(), interpreted(digests()))
      ks.indices.foreach { i =>
        check(ks(i)._1, cg(i), ip(i))
        rate("plans", ks(i)._1, rows)(in.select(col("id"), ks(i)._2.as("k")))
      }
    }

    // top_k_smallest against the row_number window spelling
    val key = xxhash64(col("id"))
    val topk = TopK.smallestPerGroup(embs, Seq("label"), 10, key, col("id"), "key", "vid")
      .select(col("label"), col("rank").cast(LongType), col("vid").cast(LongType))
    val topkWin = embs.withColumn("rank", row_number().over(
        Window.partitionBy("label").orderBy(key, col("id"))))
      .filter(col("rank") <= 10).select(col("label"), col("rank").cast(LongType), col("id").as("vid"))
    check("top_k_smallest", digest(topk), digest(topkWin))
    rate("plans", "top_k_smallest", nEmbs)(
      TopK.smallestPerGroup(embs, Seq("label"), 10, key, col("id"), "key", "vid"))

    // operators, each against another spelling of its answer
    val sigs = Dedup.minhashSignatures(docs, "id", "text")
    check("dedup_minhash", digest(sigs), digest(Dedup.minhashSignaturesPerRow(docs, "id", "text")))
    rate("operators", "dedup_minhash", nDocs)(Dedup.minhashSignatures(docs, "id", "text"))
    val sigsCached = sigs.cache()
    val pairs = Dedup.lshCandidatePairs(sigsCached, "id")
    check("dedup_lsh_pairs", digest(pairs), interpreted(digest(pairs)))
    rate("operators", "dedup_lsh_pairs", nDocs)(Dedup.lshCandidatePairs(sigsCached, "id"))
    val canon = Dedup.exact(docs, "id", "text").filter(col("is_canonical")).select("id")
    val canonAgg = docs.groupBy(md5(lower(trim(col("text"))))).agg(min("id").as("id")).select("id")
    check("dedup_exact", digest(canon), digest(canonAgg))
    rate("operators", "dedup_exact", nDocs)(Dedup.exact(docs, "id", "text"))
    val rn = Rank.globalRowNumber(docs.select("id"), col("id"))
    val rnWin = docs.select(col("id"), row_number().over(Window.orderBy("id")).cast(LongType).as("rank"))
    check("rank_row_number", digest(rn.select("id", "rank")), digest(rnWin))
    rate("operators", "rank_row_number", nDocs)(Rank.globalRowNumber(docs.select("id"), col("id")))
    val lens = docs.select(col("id"), size(col("tok")).as("n"))
    val cs = Rank.globalCumSum(lens, col("n"), "before", col("id"))
    val csWin = lens.withColumn("before", coalesce(sum(col("n").cast(LongType)).over(
      Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    check("rank_cumsum", digest(cs.select("id", "n", "before")), digest(csWin.select("id", "n", "before")))
    rate("operators", "rank_cumsum", nDocs)(Rank.globalCumSum(lens, col("n"), "before", col("id")))
    val topkOp = TopK.smallestPerGroup(docs, Seq("lang"), 20, xxhash64(col("text")), col("id"), "key", "did")
    check("topk", digest(topkOp), interpreted(digest(topkOp)))
    rate("operators", "topk", nDocs)(
      TopK.smallestPerGroup(docs, Seq("lang"), 20, xxhash64(col("text")), col("id"), "key", "did"))
    val words = docs.select(explode(col("tok")).as("w")).distinct().cache()
    val filter = Bloom.build(words.filter(length(col("w")) > 3), "w").cache()
    val probeItems = docs.select(col("id"), col("tok")(0).as("w"))
    val lit1 = Bloom.probeLit(probeItems, "w", filter).select("id", "in_bloom")
    val join1 = Bloom.probe(probeItems, "w", filter).select("id", "in_bloom")
    check("bloom_probe", digest(lit1), digest(join1))
    rate("operators", "bloom_probe", nDocs)(Bloom.probeLit(probeItems, "w", filter))

    // functions: the text-cleaning chain, against its interpreted path
    val clean = docs.select(col("id"), TF.normalizeWhitespace(TF.stripDigits(TF.stripParens(
      TF.removePunctuation(TF.removeUrls(TF.lowercased(col("text"))))))).as("k"))
    check("clean_chain", digest(clean), interpreted(digest(clean)))
    rate("functions", "clean_chain", nDocs)(clean)

    // sources: packed XML ingest, against its interpreted path. The XML
    // corpus is generated with one paper per two documents; 400 documents
    // of the corpus keep its generation out of the way.
    val xmlDir = Paths.get("kernels_xml").toAbsolutePath.toString
    graft.Tables(s, dir, "documents").orderBy("doc_id").limit(400)
      .write.mode("overwrite").parquet(s"$xmlDir/documents.parquet")
    val packed = graft.sources.PaperXmlGen.ensurePacked(s, xmlDir)
    val paragraphs = graft.sources.PaperXml.ingestPacked(s, packed)._2
      .select("paragraph_id", "body_text")
    val nParagraphs = paragraphs.count()
    check("xml_ingest", digest(paragraphs), interpreted(digest(paragraphs)))
    rate("sources", "xml_ingest", nParagraphs)(graft.sources.PaperXml.ingestPacked(s, packed)._2)

    // streaming: one maintenance cycle of the postings family on a throwaway
    // loop root, each batch re-crawling 8% of the base: under the shipped
    // policy the first lands as a segment and the second folds. A probe
    // follows each batch; the final probe must equal the batch feed face
    // over both batches.
    if (maintenanceCycle) {
      val fam = IndexMaintenance.Postings
      val base = fam.ensureBase(s, dir)
      val watermark = PersistedIndex.readSplit(s, base)
      val perBatch = math.ceil(fam.baseCount(s, base) * 0.08).toLong
      val root = Paths.get("kernels_loop").toAbsolutePath
      def batch(b: Int): DataFrame = graft.Tables(s, dir, "documents")
        .filter(col("doc_id") >= b * perBatch && col("doc_id") < (b + 1) * perBatch && col("doc_id") <= watermark)
        .select(col("doc_id"), lit("u").as("op"), concat(col("text"), lit(" data")).as("payload"))
      val cycle = (0 until 2).map { b =>
        val t0 = System.nanoTime()
        t.span("streaming", "apply_batch")(
          IndexMaintenance.applyBatch(s, dir, root, batch(b), b.toLong, fam))
        val applyNs = System.nanoTime() - t0
        val folded = IndexMaintenance.resolve(s, dir, root, fam)._2 == b.toLong
        val p0 = System.nanoTime()
        t.span("streaming", "probe")(IndexMaintenance.probe(s, dir, root, fam).collect())
        (folded, applyNs, System.nanoTime() - p0)
      }
      def mean(xs: Seq[Long], scale: Double) = if (xs.isEmpty) 0.0 else xs.sum / scale / xs.size
      res.num("streaming.land_ms", mean(cycle.filterNot(_._1).map(_._2), 1e6))
      res.num("streaming.fold_s", mean(cycle.filter(_._1).map(_._2), 1e9))
      res.num("streaming.probe_ms", mean(cycle.map(_._3), 1e6))
      val (dead, fresh) = CdcRules.feedFrames(batch(0).unionByName(batch(1)), "doc_id", "text", watermark)
      check("streaming_cycle",
        digest(IndexMaintenance.probe(s, dir, root, fam)),
        digest(fam.serve(s, dir, base, dead, fresh)))
    }

    // PersistedIndex: content fingerprint and home resolution of every
    // index the workload built over this corpus
    val reps = 20
    def meanMs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => body)
      (System.nanoTime() - t0) / 1e6 / reps
    }
    res.num("operators.persisted_index.fingerprint_ms",
      t.span("operators", "fingerprint")(meanMs(PersistedIndex.tableFingerprint(dir, "documents"))))
    val prefix = dir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_") + "_"
    val homes = Option(Paths.get("staging").toFile.listFiles).toSeq.flatten.flatMap { kind =>
      Option(kind.listFiles).toSeq.flatten.map(_.getName)
        .filter(n => n.startsWith(prefix) && !n.startsWith("."))
        .map(n => kind.getName -> n.stripPrefix(prefix).replaceAll("_c[0-9]+$", ""))
    }.distinct
    val resolveMs = homes.map { case (kind, fp) =>
      t.span("operators", s"resolve:$kind")(meanMs {
        val h = PersistedIndex.currentHome(kind, dir, fp)
        if (!PersistedIndex.isBuilt(h)) {
          mismatches += 1
          System.err.println(s"[perfbench] $kind home $h does not resolve to a built index")
        }
      })
    }
    res.num("operators.persisted_index.resolve_ms",
      if (resolveMs.isEmpty) 0.0 else resolveMs.sum / resolveMs.size)
    res.num("operators.persisted_index.homes", homes.size)
    res.num("kernels.mismatches", mismatches)
    docs.unpersist(); embs.unpersist(); sigsCached.unpersist(); words.unpersist(); filter.unpersist()
  }
}
