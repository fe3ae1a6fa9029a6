package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive digest of a result: row count plus two sums of
  * 32-bit halves of each row's hash. Doubles are rounded to 6 places
  * first so a last-bit difference in an aggregation order cannot flip
  * it; columns are taken in name order when names are unique.
  */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val names = df.columns
    val ordered =
      if (names.distinct.length == names.length) df.select(names.sorted.map(col).toSeq: _*)
      else df
    val d = ordered.toDF(ordered.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    d.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** (rows, digest string) of a frame, computed by one Spark job. */
  def of(df: DataFrame): (Long, String) = render(frame(df).collect().head)

  def render(r: org.apache.spark.sql.Row): (Long, String) =
    (r.getLong(0), f"${r.getLong(0)}%d-${r.getLong(1)}%x-${r.getLong(2)}%x")
}

/** Runs operations and records what each one cost. An operation runs
  * in phases, each under its own job group `op<id>:<phase>`:
  * parse (traced runs only), build (the DataFrame is returned, eager
  * barriers included), plan (forcing the executed plan), action (the
  * digest job, or a write for batch operations) and release (unpersist
  * every pinned RDD and drop broadcasts). A written result is read back
  * and digested after the operation, outside its wall time and groups.
  */
final class Runner(spark: SparkSession, val traced: Boolean, val spans: Spans,
    val ledger: Option[Ledger]) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val records = new ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def release(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.graft.MemoryRelease.dropBroadcasts()
  }

  def nextId(): Long = ids.incrementAndGet()

  /** Times `f` under job group `op<id>:<phase>`, recording a span. */
  def phase[A](id: Long, p: String, span: String, parent: String)(f: => A): (A, Double) = {
    sc.setJobGroup(s"op$id:$p", s"perfbench op $id $p", interruptOnCancel = false)
    val s = System.nanoTime
    try {
      val r = f
      (r, (System.nanoTime - s) / 1e6)
    } finally {
      if (traced) spans.add(id, span, parent, s, System.nanoTime)
      sc.clearJobGroup()
    }
  }

  /** One operation. `layer` names the build span (cypher, graph,
    * operators); `parse` is timed only in traced runs; `write` replaces
    * the digest action with a parquet write of the result.
    */
  def op(kind: String, name: String, layer: String, text: String = "",
      parse: Option[() => Any] = None, write: Option[String] = None,
      releaseAfter: Boolean = true)(build: => DataFrame): mutable.LinkedHashMap[String, Any] = {
    val id = nextId()
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "name" -> name,
      "text" -> text, "traced" -> traced)
    val gc0 = gcMs
    val t0 = System.nanoTime
    rec("start_ms") = spans.ms(t0)
    try {
      if (traced) parse.foreach { p =>
        rec("parse_ms") = phase(id, "parse", "cypher.parse", "operation")(scala.util.Try(p()))._2
      }
      val (df, buildMs) = phase(id, "build", s"$layer.build", "operation")(build)
      rec("build_ms") = buildMs
      val target = write match {
        case Some(_) => df
        case None => Digest.frame(df)
      }
      rec("plan_ms") = phase(id, "plan", "exec.plan", "operation")(target.queryExecution.executedPlan)._2
      val (res, actMs) = phase(id, "action", "exec.action", "operation") {
        write match {
          case Some(path) =>
            target.write.mode("overwrite").parquet(path); None
          case None => Some(target.collect().head)
        }
      }
      rec("action_ms") = actMs
      res.foreach { r =>
        val (n, dg) = Digest.render(r)
        rec("rows") = n
        rec("digest") = dg
      }
      if (traced) {
        val pinned = sc.getPersistentRDDs
        rec("barriers") = pinned.size
        rec("pinned_bytes") = sc.getRDDStorageInfo.filter(i => pinned.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
      }
      if (releaseAfter)
        rec("release_ms") = phase(id, "release", "ckpt.release", "operation")(release())._2
    } catch {
      case e: Throwable => rec("error") = describe(e)
    } finally {
      val t1 = System.nanoTime
      rec("wall_ms") = (t1 - t0) / 1e6
      rec("gc_ms") = gcMs - gc0
      if (traced) spans.add(id, "operation", "", t0, t1)
      records.add(rec)
    }
    write.filterNot(_ => rec.contains("error")).foreach { path =>
      sc.setJobGroup(s"check$id", s"perfbench check $id", interruptOnCancel = false)
      try {
        val (n, dg) = Digest.of(spark.read.parquet(path))
        rec("rows") = n
        rec("digest") = dg
      } catch {
        case e: Throwable => rec("error") = describe(e)
      } finally sc.clearJobGroup()
    }
    rec
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)}"

  /** Listener counts attached to each operation (keyed by its `id`),
    * once the listener bus has drained.
    */
  def attachCounts(rows: Iterable[mutable.Map[String, Any]]): Unit = ledger.foreach { l =>
    org.apache.spark.graft.MemoryRelease.drainListeners(sc)
    rows.foreach { rec =>
      val id = rec("id")
      val all = l.collect(s"op$id:")
      val build = l.collect(s"op$id:build")
      rec("jobs") = all.jobs
      rec("build_jobs") = build.jobs
      rec("stages") = all.stages
      rec("tasks") = all.tasks
      rec("failed_tasks") = all.failedTasks + all.failedStages
      rec("task_run_ms") = all.taskRunMs
      rec("task_cpu_ms") = all.taskCpuNs / 1e6
      rec("shuffle_read_bytes") = all.shuffleReadBytes
      rec("shuffle_write_bytes") = all.shuffleWriteBytes
      rec("spill_bytes") = all.spillBytes
      rec("records_read") = all.recordsRead
      rec("standing_scans") = all.standingScans
      rec("outside_stage_ms") = math.max(0.0,
        rec("wall_ms").asInstanceOf[Double] - covered(all.stageSpans.toSeq))
    }
  }

  /** Length of the union of [start, end) intervals, in ms. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
