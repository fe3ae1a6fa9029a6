package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Amplify, SparkEntry}
import graft.cypher.CypherLite
import graft.operators.{Dedup, Similarity, TextPipeline}
import graft.sources.Catalog

/** The benchmark JVM's entry point. Runs one workload in one process and writes a
  * JSON run record (operations, set-ups, probes, and spans when traced) for `run.py` to reduce to metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <record path>
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** serve: question rounds per run, at least (more while --seconds last). */
  val MinRounds = 2
  /** serve corpus: documents and embeddings. */
  val ServeDocs = 500
  val ServeVecs = 200
  /** batch: base corpus, amplified ×Replicas by Amplify's transforms. */
  val BatchBaseDocs = 150
  val BatchBaseVecs = 25
  val Replicas = 4

  /** Iterative graph loops, longest first. */
  val Analytics: Seq[String] = Seq("q_pagerank", "q_ppr", "q_lpa_communities", "q_katz", "q_kcore")
  val Curation: Seq[String] = Seq("q_dedup_simhash", "q_dedup_embedding", "q_neardup_candidates",
    "q_dedup_minhash", "q_dedup_exact")

  /** The standing tables `Catalog.materializeGraph` writes. */
  val StandingTables: Seq[String] = Seq("graft_chunks", "graft_mentions")

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: Main <serve|batch> <seed> <seconds> <trace 0|1> <work dir> <record path>")
    val Array(workload, seedS, secondsS, traceS, work, out) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val t0 = System.nanoTime
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime - t0) / 1e9
    val ledger = if (traced) Some(new Ledger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val runner = new Runner(spark, traced, new Spans(t0), ledger)
    val rec = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "traced" -> traced, "nproc" -> nproc, "session_s" -> sessionS)
    val bench = new Workloads(spark, runner, seed, seconds, work, rec)
    try {
      workload match {
        case "serve" => bench.serve()
        case "batch" => bench.batch()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // heap still in use after a full collection once the measured work
      // is done: what the run retained (pinned blocks, caches, catalog)
      System.gc()
      rec("heap_mb") = {
        val m = java.lang.management.ManagementFactory.getMemoryMXBean
        m.gc()
        m.getHeapMemoryUsage.getUsed / 1048576.0
      }
      runner.attachCounts(runner.records.asScala)
      rec("ops") = runner.records.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])
      if (traced) rec("spans") = runner.spans.all.map(s => mutable.LinkedHashMap(
        "op" -> s.op, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))
      Files.write(new File(out).toPath, Json.render(rec).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

/** The workloads. Each records its set-ups and operations into `rec`.
  */
final class Workloads(spark: SparkSession, runner: Runner, seed: Long, seconds: Int,
    work: String, rec: mutable.LinkedHashMap[String, Any]) {
  import Main._

  private val sc = spark.sparkContext
  private val corpus = new File(work, "corpus").getAbsolutePath
  private val probes = mutable.ArrayBuffer.empty[Double]
  rec("probes_ms") = probes

  private def ms[A](f: => A): (A, Double) = {
    val s = System.nanoTime
    val r = f
    (r, (System.nanoTime - s) / 1e6)
  }

  /** The fixed environment probe: one small CPU-bound job. */
  def probe(): Unit = {
    val (_, t) = ms(spark.range(0L, 4000000L, 1L, sc.defaultParallelism)
      .selectExpr("sum(id % 7)").collect())
    probes.synchronized(probes += t)
  }

  private def setMaterialized(dir: Option[String]): Unit =
    Seq(TextPipeline.MaterializedConf, Dedup.MaterializedConf, Similarity.MaterializedConf)
      .foreach(k => dir.fold(spark.conf.unset(k))(spark.conf.set(k, _)))

  /** Runs `setup` Setups times, recording each wall time and its parts. */
  private def setups(setup: mutable.LinkedHashMap[String, Any] => Unit): Unit = {
    val all = (1 to Setups).map { _ =>
      val parts = mutable.LinkedHashMap[String, Any]()
      val (_, t) = ms(setup(parts))
      parts("setup_ms") = t
      parts
    }
    rec("setups") = all
  }

  /** serve set-up: the seeded corpus and the standing graph tables the
    * questions read.
    */
  private def standingSetup(parts: mutable.LinkedHashMap[String, Any]): Unit = {
    setMaterialized(None)
    StandingTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    parts("generate_ms") = ms(Gen.writeCorpus(Gen.documents(spark, seed, ServeDocs),
      Gen.embeddings(spark, seed, ServeVecs), corpus))._2
    parts("materialize_graph_ms") = ms(Catalog.materializeGraph(spark, corpus))._2
  }

  /** One question through CypherLite against the standing tables. */
  private def ask(q: Question): Unit =
    runner.op("question", q.template, "cypher", q.text,
      parse = Some(() => CypherLite.parse(q.text))) {
      CypherLite.run(spark, corpus, q.text)
    }

  /** Standing-table layout: data files over the standing tables. */
  private def layout(): Long = {
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val files = StandingTables.flatMap { t =>
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      walk(new File(wh, t))
    }
    files.size.toLong
  }

  /** Writes the vector template's answer for the DuckDB cross-check. */
  private def oracleVector(): Unit = {
    setMaterialized(Some(corpus))
    val path = new File(work, "oracle/q_cypher_vector").getAbsolutePath
    CypherLite.run(spark, corpus, CypherLite.ExVec).write.mode("overwrite").parquet(path)
    rec("oracle") = Seq(mutable.LinkedHashMap("key" -> "q_cypher_vector", "path" -> path,
      "sql" -> SparkEntry.oracleSql("q_cypher_vector")))
  }

  /** One client in a closed loop: it asks the next question only after
    * the previous answer arrived.
    */
  def serve(): Unit = {
    setups(standingSetup)
    rec("layout") = layout()
    setMaterialized(Some(corpus))
    probe()
    val qs = Questions.stream(seed)
    val t0 = System.nanoTime
    val end = t0 + seconds * 1000000000L
    val round = Questions.Templates.size
    // whole rounds only, so every run asks each template equally often
    var asked = 0
    while (asked < MinRounds * round || System.nanoTime < end || asked % round != 0) {
      ask(qs.next())
      asked += 1
      if (asked == round) probe()
    }
    rec("measured_s") = (System.nanoTime - t0) / 1e9
    probe()
    oracleVector()
  }

  /** Graph analytics, then curation, over a ×Replicas corpus: each
    * phase runs its operations from a queue on a few worker threads, a
    * batch job's load shape. Each operation writes its result.
    */
  def batch(): Unit = {
    setups { parts =>
      parts("generate_ms") = ms(Gen.writeCorpus(
        Amplify.documents(Gen.documents(spark, seed, BatchBaseDocs), Replicas),
        Amplify.embeddings(Gen.embeddings(spark, seed, BatchBaseVecs), Replicas), corpus))._2
    }
    setMaterialized(None)
    rec("docs") = spark.read.parquet(s"$corpus/documents.parquet").count()
    val workers = math.max(1, math.min(3, sc.defaultParallelism - 1))
    rec("workers") = workers
    val oracle = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Any]]()
    def phase(kind: String, layer: String, keys: Seq[String]): Double = {
      val queue = new ConcurrentLinkedQueue[String](keys.asJava)
      val pool = Executors.newFixedThreadPool(workers)
      val t0 = System.nanoTime
      (1 to workers).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var k = queue.poll()
            while (k != null) {
              val path = new File(work, s"oracle/$k").getAbsolutePath
              runner.op(kind, k, layer, k, write = Some(path), releaseAfter = false) {
                SparkEntry.queries(k)(spark, corpus)
              }
              oracle.synchronized {
                oracle(k) = mutable.LinkedHashMap("key" -> k, "path" -> path,
                  "sql" -> SparkEntry.oracleSql.getOrElse(k, ""))
              }
              k = queue.poll()
            }
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.DAYS)
      val wall = (System.nanoTime - t0) / 1e9
      val (_, rel) = ms(runner.release())
      rec(s"${kind}_release_ms") = rel
      wall
    }
    probe()
    val t0 = System.nanoTime
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    while (passes.isEmpty || System.nanoTime < t0 + seconds * 1000000000L) {
      val a = phase("analytics", "graph", Analytics)
      probe()
      val c = phase("curation", "operators", Curation)
      passes += mutable.LinkedHashMap("analytics_s" -> a, "curation_s" -> c)
    }
    rec("measured_s") = (System.nanoTime - t0) / 1e9
    rec("passes") = passes
    probe()
    rec("oracle") = oracle.values.toSeq
  }
}
