package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession

/** One benchmark process: a fresh JVM, one session, one closed-loop client
  * running a workload's config back to back through the public entry
  * points (`GraftSession.create`, `Pipeline.parse`, `Pipeline.run`).
  *
  *   Harness run <master> <config> <in> <out> <seconds> <warmup> <trace 0|1>
  *               <failing-config> <result.json> <spans.jsonl>
  *
  * It writes per-execution records; the caller checks each execution's
  * output and computes every metric.
  */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: master :: config :: in :: out :: seconds :: warmup :: trace ::
        failing :: result :: spans :: Nil =>
      run(master, read(config).replace("__IN__", in), out, seconds.toDouble,
        warmup.toInt, trace == "1", read(failing).replace("__IN__", in), result, spans)
    case _ =>
      System.err.println("usage: Harness run ...")
      sys.exit(2)
  }

  final case class Exec(index: Int, phase: String, traced: Boolean, ok: Boolean,
                        startMs: Long, endMs: Long, wallS: Double, parseS: Double,
                        gcS: Double, stealShare: Double, error: String) {
    def json: String = Json.obj(
      "index" -> index, "phase" -> phase, "traced" -> traced, "ok" -> ok,
      "start_ms" -> startMs, "end_ms" -> endMs,
      // a failed execution contributes no time
      "wall_s" -> (if (ok) wallS else null), "parse_s" -> (if (ok) parseS else null),
      "gc_s" -> gcS, "steal_share" -> stealShare, "error" -> error)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** (steal, busy) CPU ticks of the whole machine from /proc/stat; (0, 0)
    * where the file is missing. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6))
    } catch { case _: Exception => (0L, 0L) }

  /** The share of the CPU time the machine wanted between two readings that
    * a virtual host gave to other guests instead (0 on a dedicated box). */
  private def stealShare(t0: (Long, Long), t1: (Long, Long)): Double = {
    val steal = t1._1 - t0._1
    val wanted = steal + t1._2 - t0._2
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }

  private def execute(spark: SparkSession, config: String, out: String, index: Int,
                      phase: String, traced: Boolean): Exec = {
    val text = config.replace("__OUT__", s"$out/exec-$index")
    val gc0 = gcSeconds()
    val cpu0 = cpuTicks()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val parsed = Pipeline.parse(text)
      val t1 = System.nanoTime()
      Pipeline.run(spark, parsed)
      val t2 = System.nanoTime()
      Exec(index, phase, traced, ok = true, startMs, System.currentTimeMillis(),
        (t2 - t0) / 1e9, (t1 - t0) / 1e9, gcSeconds() - gc0, stealShare(cpu0, cpuTicks()), "")
    } catch {
      case e: Throwable =>
        Exec(index, phase, traced, ok = false, startMs, System.currentTimeMillis(),
          Double.NaN, Double.NaN, gcSeconds() - gc0, stealShare(cpu0, cpuTicks()),
          e.toString.take(500))
    }
  }

  /** The workload's own patterns, each compiled once: the compile cost a
    * config pays before its first plan is built. */
  private def compileSeconds(config: String): Double = {
    val patterns = Pipeline.parse(config).steps.flatMap {
      case Pipeline.Transformer(actions, _, _) => actions.flatMap(_.pattern).map(p => (p, false))
      case Pipeline.Validator(rules, _, _, _) => rules.map(r => (r.pattern, true))
      case _ => Nil
    }
    val t0 = System.nanoTime()
    patterns.foreach { case (p, bool) =>
      if (bool) Pipeline.compileBoolPattern(p) else Pipeline.compilePattern(p)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def run(master: String, config: String, out: String, seconds: Double,
                  warmup: Int, trace: Boolean, failing: String, result: String,
                  spansPath: String): Unit = {
    // an untraced run times the public factory as a whole; a traced run
    // times its two parts: getOrCreate, then the SQL function registration
    val cpu0 = cpuTicks()
    val t0 = System.nanoTime()
    val (spark, t1) =
      if (trace) {
        val s = GraftSession.builder(master).getOrCreate()
        val t = System.nanoTime()
        graft.plans.GraftExtensions.register(s)
        (s, t)
      } else (GraftSession.create(master), Long.MinValue)
    val t2 = System.nanoTime()
    val setupSteal = stealShare(cpu0, cpuTicks())
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new org.apache.spark.perfbench.Tracer(spark)) else None
    val compileS = if (trace) compileSeconds(config) else Double.NaN

    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    execs += execute(spark, config, out, 0, "first", traced = false)
    (1 to warmup).foreach(i => execs += execute(spark, config, out, i, "warmup", traced = false))
    // the timed loop starts a new execution only while the budget lasts; a
    // traced run alternates untraced and traced executions so the tracing
    // overhead is measured on the same JVM
    val minTimed = if (trace) 4 else 3
    val loopStart = System.nanoTime()
    var n = 0
    while (n < minTimed || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val traced = trace && n % 2 == 1
      tracer.foreach(_.enabled = traced)
      execs += execute(spark, config, out, warmup + 1 + n, "timed", traced)
      n += 1
    }
    tracer.foreach(_.enabled = false)
    // the failure accounting self-test: this execution must come back failed
    val selfTest = execute(spark, failing, out, execs.size, "selftest", traced = false)

    // unpersists and the context cleaner free blocks asynchronously, so
    // collect until the used heap stops shrinking
    spark.catalog.clearCache()
    def usedMb(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = usedMb()
    var prev = Double.MaxValue
    var rounds = 1
    while (prev - heapMb > 0.5 && rounds < 10) {
      prev = heapMb
      heapMb = math.min(heapMb, usedMb())
      rounds += 1
    }

    tracer.foreach { t =>
      t.drain()
      val lines = execs.filter(_.traced).map(e =>
        Json.obj("k" -> "exec", "index" -> e.index, "start" -> e.startMs, "end" -> e.endMs,
          "ok" -> e.ok)) ++ t.spans
      Files.write(Paths.get(spansPath), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val rt = Runtime.getRuntime
    write(result, Json.obj(
      "setup_s" -> (t2 - t0) / 1e9,
      "setup_steal_share" -> setupSteal,
      "session_create_s" -> (if (trace) (t1 - t0) / 1e9 else null),
      "session_register_s" -> (if (trace) (t2 - t1) / 1e9 else null),
      "compile_s" -> (if (trace) compileS else null),
      "heap_retained_mb" -> heapMb,
      "executions" -> Json.Raw(execs.map(_.json).mkString("[", ",", "]")),
      "selftest" -> Json.Raw(selfTest.json),
      "env" -> Json.Raw(Json.obj(
        "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> rt.maxMemory() / 1048576.0,
        "jvm_processors" -> rt.availableProcessors(),
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString))))
    spark.stop()
  }

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  private def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))
}

/** Just enough JSON writing for flat records. */
object Json {
  final case class Raw(s: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }
}
