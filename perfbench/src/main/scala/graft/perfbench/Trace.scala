package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One timed call into a layer, recorded from the harness side. Times are
  * nanoseconds since the run's clock origin. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Span recorder. Spans of one run share the run id; they stay in memory
  * and are written with the result file when the run ends. Disabled, it
  * only runs the body. */
final class Spans(val enabled: Boolean, origin: Long) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime() - origin
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, t0, System.nanoTime() - origin)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Listener-side counters of the traced run: a `SparkListener` (jobs,
  * stages, tasks, shuffle, spill, executor CPU), a `QueryExecutionListener`
  * (Catalyst phase times, in-memory scans found in executed plans), a
  * `StreamingQueryListener` (micro-batches, trigger phases, state) and the
  * JVM's GC beans. Totals only grow; the harness takes deltas around each op. */
final class Counters {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // last reported state of each streaming query: (rows, bytes, stores)
  private val state = mutable.Map.empty[java.util.UUID, (Long, Long, Long)]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.cpu_ns", m.executorCpuTime.toDouble)
        add("spark.run_ms", m.executorRunTime.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("plan.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) => add(s"plan.${phase}_ms", s.durationMs.toDouble) }
      val scans = Counters.scans(qe.executedPlan)
      add("caches.scan_hits", scans.count(_ == Counters.SharedStage).toDouble)
      add("caches.other_cached_scans", scans.count(_ == Counters.OtherCached).toDouble)
      add("caches.source_scans", scans.count(_ == Counters.Source).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("plan.failed_actions", 1)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.trigger_ms", ms("triggerExecution"))
      add("stream.add_batch_ms", ms("addBatch"))
      add("stream.commit_ms", ms("commitOffsets") + ms("walCommit"))
      val now = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.map(_.numStateStoreInstances.toLong).sum)
      synchronized {
        // each query's final state is what counts: replace its previous
        // contribution instead of summing every progress event
        val before = state.getOrElse(p.id, (0L, 0L, 0L))
        state(p.id) = now
        c("stream.state_rows") += (now._1 - before._1).toDouble
        c("stream.state_bytes") += (now._2 - before._2).toDouble
        c("stream.state_stores") += (now._3 - before._3).toDouble
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    synchronized(c.toMap) + ("jvm.gc_ms" -> gcMs.toDouble)
  }
}

object Counters {
  sealed trait Scan
  case object SharedStage extends Scan
  case object OtherCached extends Scan
  case object Source extends Scan

  /** Leaf scans of an executed plan, through adaptive wrappers and query
    * stages. A reused exchange scans nothing again, so it is not entered.
    * An in-memory scan at graft's shared-stage storage level
    * (`Caches.shared` persists MEMORY_AND_DISK_SER) is a shared-stage hit;
    * other in-memory scans are transient persists inside one call. */
  def scans(p: SparkPlan): Seq[Scan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: ReusedExchangeExec => Nil
    case m: InMemoryTableScanExec =>
      val level = m.relation.cacheBuilder.storageLevel
      Seq(if (level == StorageLevel.MEMORY_AND_DISK_SER) SharedStage else OtherCached)
    case leaf if leaf.getClass.getSimpleName.matches("(FileSourceScan|BatchScan).*") =>
      Seq(Source)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}
