package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{AttachmentFlow, Caches, Guards, Pipeline, SparkEntry, Tables}
import graft.operators.{Docs, TextOps}
import graft.sources.{RestSource, Sinks}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one run does, as written by `run.py`: the workload, the generated
  * inputs and where results go. */
final case class Plan(
    runId: String, workload: String, data: String, work: String,
    result: String, seconds: Double, trace: Boolean, cpus: Int,
    orders: Seq[Seq[String]], attachDir: String,
    attachMonth: String)

object Plan {
  def read(path: String): Plan = {
    val m = Json.read(path)
    def s(k: String) = String.valueOf(m.get(k))
    val orders = m.get("orders").asInstanceOf[java.util.List[java.util.List[String]]]
      .asScala.map(_.asScala.toSeq).toSeq
    Plan(s("run_id"), s("workload"), s("data"), s("work"), s("result"),
      s("seconds").toDouble, s("trace") == "1", s("cpus").toInt,
      orders, s("attach_dir"), s("attach_month"))
  }
}

/** Benchmark harness: one JVM, `local[N]` with N shuffle partitions, one
  * closed-loop client. It writes every observation to the result file;
  * `run.py` turns them into metrics and checks them against the
  * expectations. */
object Main {
  def main(args: Array[String]): Unit = {
    val boot = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val plan = Plan.read(args(0))
    val res = mutable.LinkedHashMap.empty[String, Any]
    res("run_id") = plan.runId
    res("calibration_before") = Calibrate(plan.cpus)
    val h = new Harness(plan)
    try h.run(res, boot)
    catch { case t: Throwable =>
      t.printStackTrace()
      res("fatal") = s"${t.getClass.getName}: ${t.getMessage}"
    } finally h.close()
    res("calibration_after") = Calibrate(plan.cpus)
    res("ops") = h.ops
    res("passes") = h.passes
    res("spans") = h.spans.all.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))
    Json.write(plan.result, res)
  }
}

/** Fixed integer loops on one thread and on N threads: how fast the host
  * runs right now, recorded before and after each run. */
object Calibrate {
  private def spin(n: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  private val n = 50000000L

  def apply(cpus: Int): Map[String, Double] = {
    var sink = 0L
    val c0 = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    sink ^= spin(n)
    val t1 = System.nanoTime()
    val c1 = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
    val threads = (1 to cpus).map(_ => new Thread(() => { if (spin(n) == 42) println() }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t2 = System.nanoTime()
    if (sink == 42) println()
    Map("single_s" -> (t1 - t0) / 1e9, "single_cpu_s" -> (c1 - c0) / 1e9,
      "multi_s" -> (t2 - t1) / 1e9)
  }
}

object Harness {
  /** Seconds so far that the JVM spent in GC and in JIT compilation, and
    * that the host ran other guests on this machine's cpus (steal, summed
    * over cpus; 0 where /proc/stat is missing); and how many times Spark
    * compiled generated code so far. */
  def clocks(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val steal =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
        finally src.close()
      } catch { case _: Exception => 0.0 }
    Map(
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "steal_s" -> steal,
      "codegen_compiles" -> Bus.codegenCompiles.toDouble)
  }
}

final class Harness(plan: Plan) {
  private val origin = System.nanoTime()
  val spans = new Spans(plan.trace, origin)
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var spark: SparkSession = _
  private val counters = new Counters
  private var pass = -1
  private var traced = false
  private val workDir = Paths.get(plan.work)
  private val opSeq = new AtomicInteger(0)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def newSession(): SparkSession = {
    val n = plan.cpus.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 generated classes is fewer than one pass
      // needs, so passes recompiled (and re-JIT-ed) most of their classes,
      // a number that varied from run to run; see README.md
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.Functions.registerAll(s)
    s
  }

  private val workload: Workload = plan.workload match {
    case "etl_daily" => new EtlDaily
    case "analyst_session" => new AnalystSession
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Set-up (session start, the workload's set-up, its untimed warm-up
    * passes), then timed passes: while a pass started now would end within
    * `seconds` of the first one's start, and at least two, so that a slow
    * first pass never stands alone for its run. */
  def run(res: mutable.Map[String, Any], bootSeconds: Double): Unit = {
    val t0 = System.nanoTime()
    spark = spans("session")(newSession())
    val session = secs(t0)
    val t1 = System.nanoTime()
    spans("caches.build")(workload.setup())
    val setup = secs(t1)
    val t2 = System.nanoTime()
    spans("warmup")(for (_ <- 1 to workload.warmupPasses) workload.pass())
    val warmup = secs(t2)
    res("setup") = Map("jvm_boot_s" -> bootSeconds, "session_s" -> session,
      "caches_build_s" -> setup, "warmup_s" -> warmup,
      "total_s" -> (bootSeconds + session + setup + warmup))
    res("env") = env()
    res("storage_mb") = Caches.storageBytes(spark) / 1048576.0
    // the traced run's passes are followed by one untraced reference pass,
    // which the tracing overhead is measured against
    if (plan.trace) {
      counters.attach(spark)
      traced = true
    }
    val start = System.nanoTime()
    var longest = 0.0
    var timed = 0
    do {
      val t = System.nanoTime()
      timedPass()
      longest = math.max(longest, secs(t))
      timed += 1
    } while (timed < 2 || secs(start) + longest <= plan.seconds)
    if (traced) {
      counters.detach(spark)
      traced = false
      timedPass()
    }
  }

  private def timedPass(): Unit = {
    pass += 1
    System.gc() // each pass starts from a collected heap
    val c0 = Harness.clocks()
    val t0 = System.nanoTime()
    spans("pass")(workload.pass())
    val wall = secs(t0)
    val used = Harness.clocks().map { case (k, v) => k -> (v - c0(k)) }
    passes += (Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall) ++ used)
  }

  private def env(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString)

  def close(): Unit = if (spark != null) {
    Caches.releaseAll()
    spark.stop()
  }

  /** A private directory for one op's files, removed with the run's work
    * directory. */
  private def opDir(tag: String): String = {
    val p = workDir.resolve("ops").resolve(s"$tag-${opSeq.incrementAndGet()}")
    Files.createDirectories(p)
    p.toString
  }

  /** Times one op; `body` fills in its observations, and `check`, run
    * after the timed part when the op did not throw, adds what is derived
    * from them. A thrown exception is recorded, never rethrown: a failed
    * op is counted, not fatal. Every op starts once the listener bus is
    * empty; in the traced run the counters are read around the op, outside
    * its timed part, so each op carries its own deltas. */
  private def op(name: String, layer: String, probe: Boolean = false,
      check: mutable.Map[String, Any] => Unit = _ => ())(
      body: mutable.Map[String, Any] => Unit): Unit = {
    val obs = mutable.LinkedHashMap.empty[String, Any]
    Bus.drain(spark.sparkContext)
    val before = if (traced) counters.snapshot(spark) else Map.empty[String, Double]
    val t0 = System.nanoTime()
    try spans(layer)(body(obs))
    catch { case t: Throwable =>
      obs("error") = s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
    }
    val dur = secs(t0)
    if (traced) obs("counters") = counters.snapshot(spark).map { case (k, v) =>
      k -> (v - before.getOrElse(k, 0.0)) }
    if (!obs.contains("error")) spans("check")(check(obs))
    System.err.println(f"[perfbench] pass $pass%d $name%s $dur%.3f s ${obs.getOrElse("error", "")}")
    ops += (Map("pass" -> pass, "traced" -> traced, "name" -> name,
      "layer" -> layer, "probe" -> probe, "start_s" -> (t0 - origin) / 1e9,
      "seconds" -> dur) ++ obs)
  }

  /** One query or feed: build the DataFrame and collect it; the rows are
    * digested outside the timed part. */
  private def query(name: String, layer: String): Unit = {
    val fn = SparkEntry.queries(name)
    var rows: Array[Row] = null
    var schema = ""
    op(name, layer, check = obs => {
      obs("rows") = rows.length
      obs("digest") = Digest(schema, rows)
    }) { obs =>
      val t0 = System.nanoTime()
      val df = spans("query.build")(fn(spark, plan.data))
      val t1 = System.nanoTime()
      rows = spans("query.exec")(df.collect())
      schema = df.schema.simpleString
      obs("build_s") = (t1 - t0) / 1e9
      obs("exec_s") = secs(t1)
    }
  }

  private trait Workload {
    /** Work done once after the session starts, before the warm-up. */
    def setup(): Unit = ()
    /** Untimed passes before the timed ones, enough that the timed passes
      * no longer get faster pass after pass. */
    def warmupPasses: Int = 1
    def pass(): Unit
  }

  /** The seeded query order of the current pass. */
  private def order(): Seq[String] = plan.orders(math.max(pass, 0) % plan.orders.size)

  private final class AnalystSession extends Workload {
    /** The shared stages of `graft.Bench` that the session's queries read
      * (`dedup_simhash_pairs` the SimHash pair, `txt_rouge2` the distinct
      * bigram shingles); the queries register the other stages they read
      * themselves, during the first warm-up pass. */
    override def setup(): Unit = {
      val (s, d) = (spark, plan.data)
      Seq(TextOps.simhashTokens(s, d), TextOps.simhashSig60(s, d),
        TextOps.distinctBigramShingles(s, d)).foreach(df => Caches.shared(df).count())
    }
    // the JIT keeps shortening these passes until about the fourth
    override def warmupPasses: Int = 4
    def pass(): Unit = order().foreach(n => query(n, "family." + n.takeWhile(_ != '_')))
  }

  private final class EtlDaily extends Workload {
    private val keys = Seq("date", "customerId", "seqNo", "amount")

    /** Drop-dir REST fake: one invoice per date of the requested range,
      * counting fetches. */
    private def server(fetches: AtomicInteger): RestSource.Server = params => {
      fetches.incrementAndGet()
      val w = params("where")
      def bound(op: String) = w.split(s"DateString$op\"")(1).takeWhile(_ != '"')
      val (from, to) = (java.time.LocalDate.parse(bound(">=")), java.time.LocalDate.parse(bound("<=")))
      val docs = Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to)).map { d =>
        s"""{"InvoiceID":"inv-$d","DateString":"$d","Reference":"DD","Status":"SUBMITTED","Total":1.0}"""
      }
      docs.mkString("""{"Invoices":[""", ",", "]}")
    }

    private def countingPost(name: String) = {
      val acc = spark.sparkContext.longAccumulator(name)
      val post: Seq[String] => Seq[Option[String]] = batch => {
        acc.add(batch.size.toLong)
        batch.map(_ => None)
      }
      (acc, post)
    }

    private def logSummary(path: String): Map[String, Any] = {
      val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      val rows = """"verifiedRows":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      Map("log_verified_rows" -> rows.getOrElse(-1L), "log_bytes" -> txt.length)
    }

    def pass(): Unit = {
      val d = plan.data
      op("etl_run", "pipeline") { obs =>
        val (acc, post) = countingPost("etl_posted")
        val r = Pipeline.run(spark, d, opDir("log"), post = post)
        obs ++= Map("invoices" -> r.invoices, "credit_notes" -> r.creditNotes,
          "dd_invoices" -> r.ddInvoices, "unbalanced_days" -> r.unbalancedDays,
          "dropped_rows" -> r.droppedRows, "rejected_docs" -> r.rejectedDocs,
          "posted" -> acc.value.longValue) ++ logSummary(r.logPath)
      }
      op("etl_abort", "guards") { obs =>
        try {
          Pipeline.run(spark, d, opDir("log"), strict = true)
          obs("aborted") = false
        } catch { case e: Guards.UnverifiedChargesException =>
          obs("aborted") = true
          obs("unverified") = e.n
        }
      }
      op("attach_run", "attach") { obs =>
        val fetches = new AtomicInteger(0)
        val (acc, post) = countingPost("attach_posted")
        val r = AttachmentFlow.run(spark, plan.attachDir, plan.attachMonth,
          server(fetches), post = post)
        obs ++= Map("files" -> r.files, "uploads" -> r.uploads, "batches" -> r.batches,
          "rejected" -> r.rejected, "fetches" -> fetches.get, "posted" -> acc.value.longValue)
      }
      // the day's drop-dir feeds, in the seeded order
      order().foreach(n => query(n, "stream"))
      if (traced) probes()
    }

    /** The traced run's layer probes: each layer call `Pipeline.run`
      * makes, called on its own, so its time is attributed to its layer. */
    private def probes(): Unit = {
      val (s, d) = (spark, plan.data)
      def parsed(strict: Boolean) = {
        val p = Tables.xlsxCharges(s, d).filter(col("date").isNotNull && col("amount").isNotNull)
        if (strict) p else p.join(Tables.charge(s, d), keys, "left_semi")
      }
      op("tables.charge", "tables.charge", probe = true) { obs =>
        obs("rows") = Tables.charge(s, d).count()
      }
      op("pipeline.verify", "pipeline.verify", probe = true) { obs =>
        obs("rows") = Pipeline.verify(parsed(strict = false), Tables.charge(s, d)).count()
      }
      op("docs.txn_docs", "docs.txn_docs", probe = true) { obs =>
        obs("rows") = Docs.txnDocs(s, d).groupBy("docType").count().collect().map(_.getLong(1)).sum
      }
      op("docs.dd_invoices", "docs.dd_invoices", probe = true) { obs =>
        obs("rows") = Docs.ddInvoices(s, d).count()
      }
      op("sinks.push", "sinks.push", probe = true) { obs =>
        val (acc, post) = countingPost("probe_posted")
        val out = Sinks.batchedPushValidated(Docs.txnDocs(s, d).toDF().limit(100), batchSize = 50)(post)
        try obs("rejected") = out.filter(!col("ok")).count()
        finally out.unpersist()
        obs("rows") = acc.value.longValue
      }
      val summary = s.createDataFrame(
        java.util.List.of(Row(1L, 1.0)),
        new org.apache.spark.sql.types.StructType()
          .add("verifiedRows", "long").add("verifiedTotal", "double"))
      op("sinks.json_log", "sinks.json_log", probe = true) { obs =>
        obs ++= logSummary(Sinks.writeJsonLog(summary, opDir("log"), "response-log"))
      }
      op("guards.abort", "guards.abort", probe = true) { obs =>
        try {
          Guards.abortIfUnverified(parsed(strict = true).join(Tables.charge(s, d), keys, "left_anti"))
          obs("aborted") = false
        } catch { case e: Guards.UnverifiedChargesException =>
          obs("aborted") = true
          obs("unverified") = e.n
        }
      }
    }
  }
}

/** Order-independent digest of a query result: the schema plus the sum of
  * per-row 64-bit hashes. Doubles are compared to 6 significant digits
  * (values under 1e-9 read as 0), because the order in which a shuffle
  * delivers rows may change their last bits. */
object Digest {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def h64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5bd1e995).toLong << 32) | (stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def apply(schema: String, rows: Array[Row]): String = {
    var acc = h64(schema)
    rows.foreach(r => acc += h64(canon(r)))
    java.lang.Long.toHexString(acc)
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): java.util.Map[String, Object] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[Any]()
      s.foreach(x => j.add(toJava(x)))
      j
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(path: String, v: Any): Unit = {
    val tmp = Paths.get(path + ".tmp")
    mapper.writeValue(tmp.toFile, toJava(v))
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
