package hbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints its raw samples as one
  * JSON line prefixed `HBENCH_RAW `; `run.py` turns them into metrics.
  *
  * {{{
  * java -cp <classes>:<spark jars> hbench.Main --workload survey_session \
  *   --seed 1 --seconds 15 --trace 0 --work <scratch dir>
  * }}}
  *
  * Set-up starts the Spark session, writes the seeded inputs to the work
  * directory and derives the expected outputs; none of that is timed.
  * Cycles then run until `--seconds` have passed, at least [[MinCycles]].
  * In an untraced run, the program's own set-up for the workload
  * ([[Workload.programSetup]]) is timed in slices before the warm-up cycle
  * and after every measured one; `setup_s` comes from those slices.
  */
object Main {

  /** One client on a fixed `local[4]`, the box the benchmark was sized on. */
  val Cores = 4
  /** Timed program set-ups come in slices of at least [[SliceReps]] set-ups
    * and [[SliceSeconds]], or of [[SliceMaxReps]] set-ups when those take
    * less time (near_dup_batch's set-up takes well under a microsecond).
    * [[FirstSlices]] slices run before the warm-up
    * cycle, long enough for the JIT to finish compiling the set-up code
    * (~2 s); [[SlicesPerBreak]] more run after every measured cycle, so
    * that the slices sample the host over the whole run, whose speed swings
    * by up to 2x over a second or two.
    */
  val SliceReps = 5
  val SliceSeconds = 0.2
  val SliceMaxReps = 100000
  val FirstSlices = 15
  val SlicesPerBreak = 8
  /** Untimed cycles before the measured ones: the first cycle in a fresh
    * JVM runs ~1.7x slower than later ones. A second warm-up cycle (the
    * next runs ~1.2x slower) does not fit the benchmark's time budget.
    */
  val WarmupCycles = 1
  /** Measured cycles per untraced run, at least: every run then takes the
    * same number of samples on a slow host, where one cycle can outlast
    * `--seconds`.
    */
  val MinCycles = 2

  /** What the last timed set-up built. */
  @volatile private var built: AnyRef = null

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")))
  }

  /** The session configuration graft.Bench uses, at a fixed core count. */
  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(o: Opts, spark: SparkSession, tracer: Tracer, dir: File): Workload = {
    o.workload match {
      case "survey_session" => new SurveySession(spark, tracer, dir, o.seed)
      case "near_dup_batch" => new NearDupBatch(spark, tracer, dir, o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.work)
    val tracer = new Tracer(spark)
    if (o.trace) tracer.install()
    val w = workload(o, spark, tracer, new File(o.work, "inputs"))
    // set-ups are timed only in untraced runs, whose metrics report them
    // each slice as (median, set-ups)
    val setupSlices = mutable.ArrayBuffer.empty[Seq[Double]]
    val sliceNanos = new Array[Long](SliceMaxReps)
    def setupBreak(slices: Int): Unit = if (!o.trace) {
      for (_ <- 0 until slices) {
        var n = 0
        val s0 = System.nanoTime()
        while (n < SliceReps || (n < SliceMaxReps && (System.nanoTime() - s0) / 1e9 < SliceSeconds)) {
          val t = System.nanoTime()
          built = w.programSetup()
          sliceNanos(n) = System.nanoTime() - t
          n += 1
        }
        java.util.Arrays.sort(sliceNanos, 0, n)
        setupSlices += Seq(sliceNanos(n / 2) / 1e9, n.toDouble)
      }
    }
    setupBreak(FirstSlices)

    val warm0 = System.nanoTime()
    val warmupOps = (0 until WarmupCycles).flatMap { k =>
      val warm = w.cycle(-1 - k)
      warm.release()
      warm.ops
    }
    System.err.println(f"[hbench] warm-up: ${(System.nanoTime() - warm0) / 1e9}%.2f s")

    val cycles = mutable.ArrayBuffer.empty[Json.Obj]
    val minCycles = if (o.trace) 4 else MinCycles
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCycles || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      // a traced run orders its cycles untraced, traced, traced, untraced,
      // ...: the untraced ones are the baseline for the tracing overhead,
      // and the ABBA order cancels a steady drift in speed between them
      val traced = o.trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) {
        tracer.takeCounters()
        tracer.takeSpans()
        tracer.resetHeapPeak()
        tracer.enabled = true
      }
      val gc0 = tracer.gcMillis()
      val r = w.cycle(i)
      val gcSeconds = (tracer.gcMillis() - gc0) / 1000.0
      val counters = if (traced) tracer.takeCounters() else Map.empty[String, Double]
      tracer.enabled = false
      val heapPeakMb = if (traced) tracer.heapPeakMb() else 0.0
      val spans = if (traced) tracer.takeSpans() else Nil
      // the probes launch work of their own, so they run after the
      // cycle's counters are taken, with tracing off
      val probes = if (traced) r.probes() else Map.empty[String, Double]
      r.release()
      setupBreak(SlicesPerBreak)
      System.err.println(f"[hbench] cycle $i${if (traced) " (traced)" else ""}: ${r.seconds}%.2f s; " +
        r.ops.map(op => f"${op.kind} ${op.seconds}%.2f${if (op.ok) "" else " FAILED"}").mkString(", "))
      cycles += Json.Obj(
        "traced" -> traced, "s" -> r.seconds, "rows" -> r.rows, "gc_s" -> gcSeconds,
        "heap_peak_mb" -> heapPeakMb,
        "ops" -> r.ops.map(op => Json.Obj("kind" -> op.kind, "s" -> op.seconds, "rows" -> op.rows,
          "error" -> op.error.orNull)),
        "counters" -> Json.Obj((counters ++ probes).toSeq: _*),
        "spans" -> spans.map(s => Seq(s.id, s.name, (s.start - t0) / 1e9, (s.end - t0) / 1e9, s.parent, s.op)))
      i += 1
    }
    val out = Json.Obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> Cores,
      "inputs" -> Json.Obj(w.inputs.toSeq: _*),
      "setup_s" -> setupSlices.toSeq,
      "warmup_ops" -> warmupOps.size, "warmup_errors" -> warmupOps.flatMap(_.error), "cycles" -> cycles.toSeq)
    spark.stop()
    println("HBENCH_RAW " + Json.write(out))
  }
}

/** Just enough JSON to print the raw samples. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => write(Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
