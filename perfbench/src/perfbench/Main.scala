package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's JVM side. Runs one workload and writes a raw JSON
  * record (operation walls, checks, spans, jobs) for run.py to reduce.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <pinned 0|1> <work dir> <out file>
  *
  * `pinned` = 1 at the seed whose answers are pinned; only then do the
  * checks that compare against a pinned reference (the flagship entry) run.
  *
  * A run generates its inputs from the seed, sets the workload up (the
  * set-up ends with the workload's untimed warm-up operations, so the
  * JVM's first operations never land in the timed phase), then runs
  * operations back to back, one client, until `seconds` have passed. With
  * tracing on, traced and untraced operations alternate, so the tracing
  * overhead is measured inside one JVM.
  */
object Main {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, pinnedArg, work, outFile) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val spark = session(work)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, tracer, pinned = pinnedArg == "1")
    val w: Workload = workload match {
      case "serve" => new ServeWorkload(ctx, 0.01)
      case "graph-iterate" => new IterateWorkload(ctx, 0.01)
      case other => sys.error(s"unknown workload: $other")
    }

    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val answers = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    def attempt(what: String)(f: => Checked): Boolean = {
      attempted += 1
      val res = try f catch {
        case e: Throwable => Checked(Seq(s"$what threw ${e.getClass.getName}: ${e.getMessage}"))
      }
      res.failures.foreach(m => failures += ((what, m)))
      res.answers.foreach { case (k, v) => answers.getOrElseUpdate(k, v) }
      if (res.failures.nonEmpty) failed += 1
      res.failures.isEmpty
    }

    // inputs: generated from the seed; not part of the program's set-up
    val tGen = System.nanoTime()
    val dataDir = ctx.newDir("data")
    DataGen.write(spark, dataDir, w.scaleFactor, seed, w.tables)
    val genSec = (System.nanoTime() - tGen) / 1e9
    log(f"inputs generated in $genSec%.2f s")

    // set-up: held state plus the JVM's first (warm-up) operations,
    // numbered -1, -2, ... so they never collide with timed ones
    if (trace) tracer.start(-1)
    val tSetup = System.nanoTime()
    w.setup(dataDir)
    val warm = (1 to w.warmups).map(k => -k -> w.op(-k))
    // fixture and reference work done inside set-up is not the program's
    val fixtureSec = ctx.untimedNs / 1e9
    val setupSec = (System.nanoTime() - tSetup) / 1e9 - fixtureSec
    if (trace) tracer.stop()
    warm.foreach { case (k, r) => attempt(s"warm-up $k")(w.check(k, r)) }
    log(f"set up in $setupSec%.2f s (plus $fixtureSec%.2f s of fixture and reference work)")

    // timed phase: one closed-loop client
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // traced, untraced, untraced, traced, ...: the ABBA order keeps a
    // steady warm-up trend out of the overhead estimate
    def traced(i: Int) = trace && (i % 4 == 0 || i % 4 == 3)
    while (System.nanoTime() < tEnd || (trace && i < 4)) {
      if (traced(i)) tracer.start(i)
      val t0 = System.nanoTime()
      val r = try Right(w.op(i)) catch { case e: Throwable => Left(e) }
      val wallNs = System.nanoTime() - t0
      if (traced(i)) tracer.stop()
      val ok = attempt(s"operation $i")(r match {
        case Right(v) => w.check(i, v)
        case Left(e) => throw e
      })
      ops += Map("i" -> i, "traced" -> traced(i), "wall_ns" -> wallNs, "ok" -> ok)
      i += 1
    }
    log(s"timed phase: $i operations")

    // what is still held after the timed phase: cached and checkpointed
    // blocks that survive a GC (dropped frames are cleaned), split into
    // the benchmark's own pinned inputs and the program's
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    val (ownHeld, programHeld) = spark.sparkContext.getRDDStorageInfo
      .partition(r => w.ownRdds.contains(r.id))
    def bytes(rs: Seq[org.apache.spark.storage.RDDInfo]) = rs.map(r => r.memSize + r.diskSize).sum

    attempt("final checks")(w.finalChecks())

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "scale_factor" -> w.scaleFactor, "cpus" -> Runtime.getRuntime.availableProcessors(),
      "setup_s" -> setupSec, "inputs_s" -> genSec, "fixture_s" -> fixtureSec, "ops" -> ops,
      "held_bytes" -> (bytes(ownHeld) + bytes(programHeld)), "bench_held_bytes" -> bytes(ownHeld),
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.map { case (w, m) => Map("where" -> w, "detail" -> m) },
      "answers" -> answers,
      "spans" -> tracer.spans.map(s => Seq(s.id, s.parent, s.name, s.op, s.startNs, s.endNs)),
      "jobs" -> tracer.jobRecords.map(j =>
        Seq(j.id, j.startMs, j.endMs, j.tasks, j.cpuNs, j.shuffleBytes, j.succeeded, j.site)),
      "phases" -> tracer.phases.map(p => Seq(p._1, p._2, p._3)),
      "facts" -> tracer.facts.map(f => Seq(f._1, f._2, f._3)))
    val tmp = new java.io.File(outFile + ".tmp")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(tmp, raw)
    tmp.renameTo(new java.io.File(outFile))
    spark.stop()
  }
}
