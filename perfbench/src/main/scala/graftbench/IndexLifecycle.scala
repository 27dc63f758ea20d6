package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{IndexStore, Similarity, TextOps}

/** Seeded index corpus: documents over a Zipf vocabulary, clustered unit
  * 64-d vectors (one per document, same id), short 2-4 term queries and
  * query vectors near the clusters. Batches replay a seeded share of
  * already-indexed documents. */
final class IndexCorpus(seed: Long, vocab: Int = 20000, dim: Int = 64, clusters: Int = 32) {
  private val rnd = new scala.util.Random(seed)
  private val cdf = {
    val w = (1 to vocab).map(r => 1.0 / math.pow(r, 1.07))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private val centers = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))
  private var nextId = 0L
  private val issued = ArrayBuffer.empty[Long]
  val docs = mutable.LinkedHashMap.empty[Long, (String, Array[Float])]

  private def term(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(vocab - 1, if (i >= 0) i else -i - 1)
  }
  private def near(c: Array[Double], noise: Double): Array[Float] = {
    val v = c.map(_ + noise * rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def fresh(): Long = {
    val id = nextId
    nextId += 1
    val text = Seq.fill(20 + rnd.nextInt(61))(s"t${term()}").mkString(" ")
    docs(id) = (text, near(centers(rnd.nextInt(clusters)), 0.6))
    issued += id
    id
  }

  /** `n` new documents. */
  def standing(n: Int): Seq[Long] = Seq.fill(n)(fresh())
  /** A batch of `n` ids: `replay` of them re-offer indexed documents. */
  def batch(n: Int, replay: Double): Seq[Long] = {
    val r = (n * replay).toInt
    val old = Seq.fill(r)(issued(rnd.nextInt(issued.size)))
    old ++ Seq.fill(n - r)(fresh())
  }
  def queries(n: Int): Seq[(Long, String, Array[Float])] = (1 to n).map { i =>
    val text = Seq.fill(2 + rnd.nextInt(3))(s"t${20 + term() % (vocab - 20)}").mkString(" ")
    (-i.toLong, text, near(centers(rnd.nextInt(clusters)), 0.6))
  }
  def userBytes(ids: Seq[Long]): Long = ids.map(i => docs(i)._1.length + 4L * dim + 8L).sum
}

object IndexLifecycle {
  /** docs at set-up, batch size, replayed share, appends per compaction,
    * probe queries, cycles the loop must complete. */
  final case class Config(standing: Int, batch: Int, replay: Double, compactEvery: Int,
      queries: Int, minCycles: Int)
  val Full = Config(standing = 500, batch = 50, replay = 0.2, compactEvery = 3,
    queries = 16, minCycles = 3)
  val Mini = Config(standing = 500, batch = 50, replay = 0.2, compactEvery = 1,
    queries = 8, minCycles = 1)

  /** The floor the repository certifies its IVF-PQ probes against. */
  val RecallFloor = 0.6

  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}

/** The daily standing-index loop. Set-up builds the standing BM25 and
  * IVF-PQ artifacts; every cycle appends a batch to both, cold-probes
  * both from a fresh session, warm-probes the session's memoized copies,
  * and every `compactEvery` appends compacts both artifacts. */
final class IndexLifecycle(spark: SparkSession, a: Args, ops: Ops, tracer: Tracer,
    cfg: IndexLifecycle.Config, measure: Boolean) extends Workload {
  import IndexLifecycle._
  private val root = s"${a.work}/index"
  private val corpusDir = s"$root/corpus"
  private val corpus = new IndexCorpus(a.seed)
  private val standingIds = corpus.standing(cfg.standing)
  private val appended = ArrayBuffer.empty[Long]
  private val queryRows = corpus.queries(cfg.queries)
  private val vecDirs = ArrayBuffer(s"$corpusDir/embeddings.parquet")
  private var s: SparkSession = spark
  private var bm25Path, annPath = ""
  private var model: (Array[Array[Double]], Array[Array[Array[Double]]], Array[Int]) = _
  private var appends = 0
  private var lastCold: DataFrame = _
  private val buildMs = ArrayBuffer.empty[Double]
  private var offered, committedBm25, committedAnn = 0L
  private val filesPerAppend, writeAmp = ArrayBuffer.empty[Double]
  private val spaceAmp = ArrayBuffer.empty[(Double, Double)]
  private var orphansAfterCompact: Seq[String] = Nil
  private var graceSegments: Seq[String] = Nil
  private var cycleStart = 0L
  private val lifecycles = ArrayBuffer.empty[Double]

  override def minUnits: Int = cfg.minCycles

  private def docsDf(ss: SparkSession, ids: Seq[Long]): DataFrame =
    ss.createDataFrame(java.util.Arrays.asList(ids.map(i => Row(i, corpus.docs(i)._1)): _*), DocSchema)
  private def vecsDf(ss: SparkSession, ids: Seq[Long]): DataFrame =
    ss.createDataFrame(java.util.Arrays.asList(
      ids.map(i => Row(i, corpus.docs(i)._2.toSeq)): _*), VecSchema)
  private def qDocs(ss: SparkSession) = ss.createDataFrame(java.util.Arrays.asList(
    queryRows.map(q => Row(q._1, q._2)): _*), DocSchema)
  private def qVecs(ss: SparkSession) = ss.createDataFrame(java.util.Arrays.asList(
    queryRows.map(q => Row(q._1, q._3.toSeq)): _*), VecSchema)

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def bytes(p: String): Long = {
    val path = new Path(p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  locally {
    docsDf(spark, standingIds).write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    vecsDf(spark, standingIds).write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
  }

  /** Build both standing artifacts in a fresh session (whose memoized
    * warm copies the loop then probes). */
  def setup(rep: Int): Unit = {
    if (bm25Path.nonEmpty) fs.delete(new Path(s"$root/r${rep - 1}"), true)
    s = spark.newSession()
    bm25Path = s"$root/r$rep/bm25"
    annPath = s"$root/r$rep/ivfpq"
    val t0 = System.nanoTime()
    ops.run("build", timed = false) {
      tracer.span("index.build", "llm") {
        TextOps.saveBm25Index(s, corpusDir, bm25Path)
        Similarity.saveIvfPqIndex(s, corpusDir, annPath)
      }
    }
    buildMs += (System.nanoTime() - t0) / 1e6
    model = (IndexStore.readModelMatrix(s, annPath, "centroids"),
      IndexStore.readModelCube(s, annPath, "codebooks"),
      IndexStore.decodeInts(IndexStore.readMeta(s, annPath)("bounds")))
    appended.clear()
    appends = 0
  }

  private def step(kind: String)(body: => Unit): Unit = {
    tracer.nextOp()
    ops.run(kind)(tracer.span(s"index.$kind", "llm")(body))
    Main.sweep(s)
  }

  def unit(u: Int): Unit = {
    if (appends % cfg.compactEvery == 0) cycleStart = System.nanoTime()
    val ids = corpus.batch(cfg.batch, cfg.replay)
    val known = (standingIds.iterator ++ appended.iterator).toSet
    val before = if (measure) Some(snapshot()) else None
    step("append_bm25")(TextOps.appendBm25Index(s, bm25Path, docsDf(s, ids)))
    step("append_ann") {
      val admitted = vecsDf(s, ids).select(col("vec_id").as("vid"),
          col("embedding").cast("array<double>").as("cv"))
        .join(IndexStore.load(s, annPath).select("vid"), Seq("vid"), "left_anti")
      val (c, cb, b) = model
      IndexStore.append(Similarity.mergeIvfPqIndex(IndexStore.load(s, annPath).limit(0),
        admitted, c, cb, b), annPath)
    }
    val fresh = ids.filterNot(known).distinct
    appended ++= fresh
    appends += 1
    val dir = s"$root/batches/b$appends"
    vecsDf(spark, fresh).write.mode("overwrite").parquet(dir)
    vecDirs += dir
    before.foreach { b =>
      val after = snapshot()
      offered += ids.size
      committedBm25 += after.bm25Docs - b.bm25Docs
      committedAnn += after.annRows - b.annRows
      filesPerAppend += (after.files - b.files).toDouble
      writeAmp += (after.bytes - b.bytes).toDouble / corpus.userBytes(ids)
    }

    val cold = spark.newSession()
    step("probe_cold_bm25") {
      probe(TextOps.bm25ColdProbe(cold, bm25Path, qDocs(cold), k = 5))
    }
    step("probe_cold_ann") {
      val res = probe {
        val corpusF = cold.read.parquet(vecDirs.toSeq: _*)
          .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("cv"))
        Similarity.ivfPqColdProbe(cold, annPath, corpusF, qVecs(cold), k = 5)
      }
      lastCold = spark.createDataFrame(java.util.Arrays.asList(res._2: _*), res._1.schema)
    }
    step("probe_warm_bm25") {
      probe(TextOps.bm25IndexProbe(s, corpusDir, qDocs(s), k = 5))
    }
    step("probe_warm_ann") {
      probe(Similarity.ivfPqIndexProbe(s, corpusDir, qVecs(s), k = 5))
    }
    if (appends % cfg.compactEvery == 0) {
      val amp0 = if (measure) amplification() else 0.0
      graceSegments = liveSegments()
      step("compact") {
        TextOps.compactBm25Postings(s, bm25Path)
        IndexStore.compact(s, annPath)
      }
      if (measure) spaceAmp += ((amp0, amplification()))
      orphansAfterCompact = IndexStore.orphanPoolDirs(s, annPath)
      lifecycles += (System.nanoTime() - cycleStart) / 1e9
    }
  }

  /** Build a probe's frame (metadata reads, planning), then run it. */
  private def probe(build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = tracer.span("query.build", "llm")(build)
    (df, tracer.span("query.exec", "operators")(df.collect()))
  }

  private final case class Snapshot(bytes: Long, files: Long, bm25Docs: Long, annRows: Long)
  /** Artifact sizes and row counts, read between ops of a traced run. */
  private def snapshot(): Snapshot = Snapshot(
    bytes(bm25Path) + bytes(annPath),
    TextOps.bm25PostingsFileCount(s, bm25Path) + IndexStore.dataFileCount(s, annPath),
    IndexStore.readMeta(s, s"$bm25Path/state")("n").toLong,
    IndexStore.load(s, annPath).count())

  /** Pool segments the ANN artifact's current generation references. */
  private def liveSegments(): Seq[String] = {
    val pool = new Path(s"$annPath/pool")
    val orphans = IndexStore.orphanPoolDirs(s, annPath).toSet
    fs.listStatus(pool).toSeq.map(st => s"pool/${st.getPath.getName}").filterNot(orphans)
  }

  /** ANN artifact bytes over the bytes of the segments it serves. */
  private def amplification(): Double = {
    val live = liveSegments().map(seg => bytes(s"$annPath/$seg")).sum
    bytes(annPath).toDouble / live
  }

  def finish(r: Report): Unit = {
    val all = standingIds ++ appended
    // BM25: the maintained doc set and (n, sumDl) equal the corpus
    val postings = TextOps.loadBm25Postings(s, bm25Path)
    val docSet = postings.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    if (docSet != all.toSet) ops.wrong("bm25", s"doc set of ${docSet.size} ids, expected ${all.size}")
    val meta = IndexStore.readMeta(s, s"$bm25Path/state")
    val sumDl = all.map(i => corpus.docs(i)._1.count(_ == ' ') + 1L).sum
    if (meta("n").toLong != all.size || meta("sumDl").toLong != sumDl)
      ops.wrong("bm25", s"scalars n=${meta("n")} sumDl=${meta("sumDl")}, expected ${all.size} / $sumDl")
    // IVF-PQ: the artifact's rows equal a direct encode of standing ∪ appended
    val (c, cb, b) = model
    val direct = Similarity.mergeIvfPqIndex(IndexStore.load(s, annPath).limit(0),
      vecsDf(s, all).select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("cv")),
      c, cb, b)
    val diff = IndexStore.load(s, annPath).withColumn("m", lit(1))
      .join(direct.withColumn("r", lit(1)), Seq("vid", "cell", "codes"), "full")
      .where(col("m").isNull || col("r").isNull).count()
    if (diff != 0) ops.wrong("ivfpq", s"$diff rows differ from a direct encode")
    try IndexStore.verifyManifest(s, annPath)
    catch { case e: Throwable => ops.wrong("ivfpq", s"verifyManifest: ${e.getMessage}") }
    val stray = orphansAfterCompact.filterNot(graceSegments.toSet)
    if (stray.nonEmpty) ops.wrong("ivfpq", s"orphan pool dirs after compaction: ${stray.mkString(", ")}")
    // recall@5 of the last cold probe against the brute-force top 5
    val brute = Similarity.bruteForceTopK(spark.read.parquet(vecDirs.toSeq: _*), qVecs(spark), 5)
      .select("qid", "vid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got = lastCold.select("qid", "vid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    if (recall < IndexLifecycle.RecallFloor)
      ops.wrong("ivfpq", f"recall@5 $recall%.3f below the floor ${IndexLifecycle.RecallFloor}")

    if (ops.untraced.nonEmpty) {
      def p50(kind: String) = Stats.median(ops.of(kind))
      r.e2e("append_p50_ms") = (p50("append_"), "ms")
      r.e2e("probe_cold_p50_ms") = (p50("probe_cold_"), "ms")
      r.e2e("probe_warm_p50_ms") = (p50("probe_warm_"), "ms")
      r.e2e("lifecycle_s") = (Stats.median(lifecycles.toSeq), "s")
    }

    if (measure) {
      val lay = r.layer
      lay("index.build_ms") = (Stats.median(buildMs.toSeq), "ms")
      lay("index.files_per_append") = (Stats.median(filesPerAppend.toSeq), "count")
      lay("index.write_amp") = (Stats.median(writeAmp.toSeq), "ratio")
      lay("index.space_amp_before") = (Stats.median(spaceAmp.map(_._1).toSeq), "ratio")
      lay("index.space_amp_after") = (Stats.median(spaceAmp.map(_._2).toSeq), "ratio")
      lay("index.appended_frac") =
        ((committedBm25 + committedAnn).toDouble / (2 * offered), "ratio")
      lay("index.recall_at_5") = (recall, "ratio")
      lay("index.meta_ms") = (Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        IndexStore.readMeta(s, annPath)
        IndexStore.readModelMatrix(s, annPath, "centroids")
        IndexStore.readModelCube(s, annPath, "codebooks")
        IndexStore.dataFileCount(s, annPath)
        (System.nanoTime() - t0) / 1e6
      }), "ms")
    }
  }

  def close(): Unit = fs.delete(new Path(root), true)
}
