package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.harness.{BenchmarkRegistry, RunParams}

/** Runs one workload's ops in this JVM on local[cores] and writes the raw
  * samples as JSON; `run.py` turns them into metrics and checks them.
  *
  * The run is a closed loop with one client: each op starts after the
  * previous one returned. It is made of passes. Each pass builds a fresh
  * session through `GraftSession.builder`, warms the engine, runs every op
  * once in the given order and stops the session, so every pass pays the
  * family-cache builds again. The first pass warms the JVM: its outputs are
  * checked but its times are not used. Then `--passes` measured passes
  * follow (default two, three when traced). Their number is fixed because
  * the JVM is still warming up over them, so a run that fitted in one more
  * pass would read faster. Then bare set-ups (build, warm up, stop) repeat
  * until `--seconds` have passed since the warm-up pass ended. The first
  * set-up is timed from JVM start, so it ends where the first op starts.
  *
  * An op is either `entry:<name>`, one `SparkEntry.queries` entry (the
  * operator call plus `count()`), or `harness:<name>`, one
  * `BenchmarkRegistry` benchmark run, whose stages become the op samples.
  * The warm-up pass also collects every entry's result for its digest and
  * runs the harness with validation on; the measured passes leave out
  * those extra actions.
  *
  * With `--trace 1` the measured passes run traced, untraced, traced: the
  * [[Tracer]] rides on the first and last, and the one between them
  * measures the tracing overhead with the JVM's warm-up trend cancelled
  * out.
  *
  * Usage: perfbench.Main --data DIR --ops FILE --seconds S --trace 0|1
  *   --result FILE [--passes N] [--record DIR]
  * `--record DIR` also writes every entry's output as parquet under DIR,
  * with the oracle SQL beside it, for a DuckDB comparison.
  */
object Main {
  final case class Opts(data: String, ops: Seq[String], seconds: Double,
                        trace: Boolean, result: String, passes: Int,
                        record: Option[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      data = need("data"),
      ops = Files.readAllLines(Paths.get(need("ops"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      result = need("result"),
      passes = kv.get("passes").map(_.toInt).getOrElse(if (kv.get("trace").contains("1")) 3 else 2),
      record = kv.get("record"))
  }

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def javaMap(m: Map[String, Double]): JMap[String, Any] =
    obj(m.toSeq.sortBy(_._1): _*)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val setups = new JList[Any]()
    val passes = new JList[Any]()
    var setupStart = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    var measureStart = 0L
    for (i <- 0 to o.passes) {
      val traced = o.trace && i % 2 == 1
      val (setup, pass) = runPass(o, cores, traced, setupStart, withOps = true, full = i == 0)
      pass.put("warmup", i == 0)
      setups.add(setup); passes.add(pass)
      setupStart = System.nanoTime()
      if (i == 0) measureStart = setupStart
    }
    while ((System.nanoTime() - measureStart) / 1e9 < o.seconds) {
      setups.add(runPass(o, cores, traced = false, setupStart, withOps = false, full = false)._1)
      setupStart = System.nanoTime()
    }
    o.record.foreach { dir =>
      val sql = new ObjectMapper().writeValueAsString(obj(SparkEntry.oracleSql.toSeq: _*))
      Files.writeString(Paths.get(dir, "oracle_sql.json"), sql)
    }
    val out = obj("cores" -> cores, "vm_hwm_kb" -> vmHwmKb, "setups" -> setups,
      "passes" -> passes)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new java.io.File(o.result), out)
  }

  /** Peak resident set of this JVM so far, from /proc (0 where absent). */
  private def vmHwmKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  /** One set-up and, with `withOps`, one pass over the ops. Returns the
    * set-up record and the pass record.
    */
  private def runPass(o: Opts, cores: Int, traced: Boolean, setupStart: Long,
                      withOps: Boolean, full: Boolean): (JMap[String, Any], JMap[String, Any]) = {
    val b0 = System.nanoTime()
    val tracer = if (traced) Some(new Tracer) else None
    val builder = GraftSession.builder("perfbench", cores.toString, o.data)
    val spark = tracer.fold(builder)(_.attach(builder)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.attach(spark))
    val b1 = System.nanoTime()
    warmUp(spark, o.data)
    val b2 = System.nanoTime()
    val setup = obj("setup_s" -> (b2 - setupStart) / 1e9, "build_s" -> (b1 - b0) / 1e9,
      "warmup_s" -> (b2 - b1) / 1e9)
    val ops = new JList[Any]()
    val windows = mutable.ArrayBuffer.empty[OpWindow]
    if (withOps) o.ops.foreach { op =>
      val startMs = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, op)
      val rec = try runOp(spark, op, o, full) finally
        spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
      val buildMs = rec.remove("build_ms").asInstanceOf[Long]
      windows += OpWindow(op, startMs, startMs + buildMs,
        startMs + rec.remove("window_ms").asInstanceOf[Long])
      ops.add(rec)
    }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Tracer.current = null
    val layers = tracer.map(_.summarize(windows.toSeq))
    layers.foreach { l =>
      ops.asScala.foreach { case r: JMap[String, Any] @unchecked =>
        r.put("layers", javaMap(l.getOrElse(r.get("name").toString, Map.empty)))
      }
    }
    val pass = obj("traced" -> traced, "pass_s" -> (System.nanoTime() - b0) / 1e9, "ops" -> ops,
      "layers" -> javaMap(layers.map(_("")).getOrElse(Map.empty)))
    System.gc()
    (setup, pass)
  }

  /** Runs one op. The record's `window_ms` spans the timed part only.
    * With `full`, an entry's result is also collected and digested and a
    * harness benchmark computes its validation digests; otherwise only the
    * entry's row count is there to check.
    */
  private def runOp(spark: SparkSession, op: String, o: Opts,
                    full: Boolean): JMap[String, Any] = {
    val t0 = System.nanoTime()
    val rec = obj("name" -> op)
    def done(): Unit = {
      rec.put("window_ms", (System.nanoTime() - t0) / 1000000L)
      rec.putIfAbsent("build_ms", rec.get("window_ms"))
    }
    try op match {
      case s"entry:$name" =>
        val df = SparkEntry.queries(name)(spark, o.data)
        val t1 = System.nanoTime()
        rec.put("build_ms", (t1 - t0) / 1000000L)
        val n = df.count()
        val t2 = System.nanoTime()
        done()
        rec.put("wall_s", (t2 - t0) / 1e9)
        rec.put("build_s", (t1 - t0) / 1e9)
        rec.put("count", n)
        if (full) {
          // outside the timed part and outside the op's trace
          spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
          val (rows, digest) = Digest.of(df)
          rec.put("rows", rows)
          rec.put("digest", digest)
        }
        o.record.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"))
        rec.put("ok", true)
      case s"harness:$name" =>
        val res = BenchmarkRegistry.create(name).run(
          RunParams(dataDir = o.data, numThreads = spark.sparkContext.defaultParallelism,
            validation = full))
        done()
        rec.put("wall_s", (System.nanoTime() - t0) / 1e9)
        rec.put("stages", javaMap(res.measurements))
        rec.put("params", obj(res.params.toSeq.sortBy(_._1): _*))
        rec.put("ok", true)
      case other => throw new IllegalArgumentException(s"unknown op $other")
    } catch {
      case e: Throwable =>
        if (!rec.containsKey("window_ms")) done()
        rec.put("ok", false)
        rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    rec
  }

  /** Engine warm-up on literal rows and one tiny table: codegen, shuffle,
    * join and parquet-reader initialisation, but no workload data.
    */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    val w = spark.range(256).select(col("id"), (col("id") % 16).as("k"))
    w.groupBy("k").agg(count(lit(1)).as("c")).join(w, "k")
      .groupBy("k").agg(max("c"), sum("id")).collect()
    spark.read.parquet(s"$data/region.parquet").count()
  }
}

/** Prints every `SparkEntry.queries` name, one per line. */
object ListEntries {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}
