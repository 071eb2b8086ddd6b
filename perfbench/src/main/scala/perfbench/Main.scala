package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, JsonOut, SparkEntry, Tables}

/** Runs one benchmark workload in a closed loop with one client, and
  * writes the raw samples to `<out>/result.json` (and, traced, the spans
  * to `<out>/spans.jsonl`). perfbench/run.py turns them into metrics.
  *
  * A run: two fresh sessions in turn, each warmed up with the
  * `Tables.tokens`/`Tables.shingles` memos materialized (its set-up).
  * The first set-up is timed from JVM start. On the first session, an
  * untimed Verify-style dump of every operator for the oracle check,
  * which also warms the JVM. On the second, a cold pass over the
  * workload's operators (the session's lazy memo builds included), then
  * warm passes until `seconds` have passed; those that start in the
  * first half are warm-up, and at least three are counted.
  * Each call builds the operator's DataFrame through
  * `SparkEntry.queries` and fully materializes it to the sink: `noop`,
  * or parquet under `<out>/sink`.
  *
  * Traced (`--trace 1`), listeners record spans for the cold pass and
  * every second warm pass; the others run with the listeners detached,
  * so their time against the traced passes' is the tracing overhead.
  *
  * Usage: perfbench.Main --data DIR --out DIR --ops a,b,c --sink noop|parquet
  *   --seconds S --trace 0|1 --cores C
  */
object Main {
  private final case class Call(op: String, buildMs: Double, matMs: Double,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val out = opt("out")
    val ops = opt("ops").split(',').toSeq
    val sink = opt("sink")
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val tracer = if (opt("trace") == "1") Some(new Tracer) else None
    // operators with no oracle are checked by output hash, which needs
    // their output on disk
    val hashed = ops.filterNot(SparkEntry.oracleSql.contains)
    require(hashed.isEmpty || sink == "parquet",
      s"no oracle and no parquet sink for ${hashed.mkString(",")}")

    val hashes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    def recordHash(op: String, dir: String): Unit =
      hashes.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
        (try outputHash(SparkSession.active, dir)
         catch { case NonFatal(e) => s"unreadable: ${e.getClass.getName}" })

    /** The correctness dump, in graft.Verify's shape: every operator's
      * output as one parquet file, plus the oracle SQL. Untimed; run on
      * the first session, it is also the JVM's warm-up for the passes.
      * Not graft.Verify itself: that logs a throwing operator and carries
      * on, and stops the session, where the gate must count the throw. */
    def dump(spark: SparkSession): (Double, Seq[(String, String)]) = {
      val d0 = Clock.now()
      val errors = ops.flatMap { op =>
        try {
          SparkEntry.queries(op)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/dump/$op")
          if (hashed.contains(op)) recordHash(op, s"$out/dump/$op")
          None
        } catch { case NonFatal(e) => Some(op -> s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      }
      val oracle = ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _))
      Files.writeString(Paths.get(s"$out/dump/oracle_sql.json"),
        oracle.map { case (k, v) => s"${JsonOut.str(k)}:${JsonOut.str(v)}" }.mkString("{", ",", "}"))
      (Clock.now() - d0, errors)
    }

    // a set-up: a fresh session (the previous one stopped, its listeners
    // already detached), warmed up, memos materialized; the first is
    // timed from JVM start
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupS = mutable.ArrayBuffer.empty[Double]
    def setUp(prev: SparkSession): SparkSession = {
      if (prev != null) {
        Tables.clearCaches(prev)
        prev.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        // collect the stopped session's heap now, so that no pass of the
        // next one pays a collection of it at a varying point
        System.gc()
      }
      val i = setupS.size
      val t0 = if (i == 0) jvmStart else Clock.now()
      val s = session(out, cores)
      tracer.foreach(_.attach(s))
      val memoMs = warmUp(s, data, tracer)
      val t1 = Clock.now()
      setupS += (t1 - t0) / 1000
      tracer.foreach(_.add(Span(s"setup:$i", "", "setup", s"setup $i", t0, t1,
        Map("memo_build_ms" -> memoMs, "pinned_bytes" -> pinnedBytes(s)))))
      s
    }
    val first = setUp(null)
    tracer.foreach(_.detach(first))
    val (dumpMs, dumpErrors) = dump(first)
    val spark = setUp(first)
    val sc = spark.sparkContext
    val workloadId = "workload:0"
    val runStart = Clock.now()

    /** One call: build the DataFrame, then materialize it to the sink. */
    def call(op: String, passId: String, traced: Boolean): Call = {
      val t = tracer.filter(_ => traced)
      val (callId, buildId, matId) = (s"call:$passId:$op", s"build:$passId:$op",
        s"materialize:$passId:$op")
      val before = sc.getPersistentRDDs.keySet
      sc.setJobGroup(op, op, interruptOnCancel = false)
      val c0 = Clock.now()
      var c1 = c0
      val error = try {
        sc.setLocalProperty(Tracer.SpanProperty, buildId)
        val df = SparkEntry.queries(op)(spark, data)
        c1 = Clock.now()
        sc.setLocalProperty(Tracer.SpanProperty, matId)
        write(df, sink, s"$out/sink/$op")
        None
      } catch {
        case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally {
        sc.setLocalProperty(Tracer.SpanProperty, null)
        sc.clearJobGroup()
      }
      val c2 = Clock.now()
      t.foreach { tr =>
        val added = sc.getPersistentRDDs.keySet.diff(before).size.toDouble
        val (files, bytes) = if (sink == "parquet") written(s"$out/sink/$op") else (0.0, 0.0)
        tr.add(Span(buildId, callId, "build", op, c0, c1, Map.empty))
        tr.add(Span(matId, callId, "materialize", op, c1, c2,
          Map("sink_files" -> files, "sink_bytes" -> bytes)))
        tr.add(Span(callId, passId, "call", op, c0, c2,
          Map("persisted_added" -> added, "failed" -> (if (error.isDefined) 1.0 else 0.0))))
      }
      Call(op, c1 - c0, c2 - c1, error)
    }

    final case class Pass(kind: String, traced: Boolean, wallMs: Double, calls: Seq[Call])
    def pass(kind: String, index: Int, traced: Boolean): Pass = {
      val passId = s"pass:$index"
      val p0 = Clock.now()
      val calls = ops.map(call(_, passId, traced))
      val p1 = Clock.now()
      tracer.filter(_ => traced).foreach(_.add(Span(passId, workloadId, "pass",
        s"$kind $index", p0, p1, Map("traced" -> 1.0))))
      hashed.foreach(op => recordHash(op, s"$out/sink/$op"))
      Pass(kind, traced, p1 - p0, calls)
    }
    def setTraced(on: Boolean, now: Boolean): Unit =
      if (on != now) tracer.foreach(t => if (on) t.attach(spark) else t.detach(spark))

    // cold pass (traced when tracing), then warm passes for `seconds`.
    // Pass times still fall for several passes after the cold one, as
    // the JIT keeps compiling, so passes that start in the first half
    // are warm-up and not counted; at least `minWarm` are counted.
    // Traced runs alternate untraced and traced counted passes.
    val passes = mutable.ArrayBuffer(pass("cold", 0, tracer.isDefined))
    var traced = tracer.isDefined
    val minWarm = if (tracer.isDefined) 4 else 3
    val warm0 = Clock.now()
    while (passes.count(_.kind == "warm") < minWarm || Clock.now() - warm0 < seconds * 1000) {
      val kind = if (Clock.now() - warm0 < seconds * 500) "warmup" else "warm"
      val on = tracer.isDefined && kind == "warm" && passes.size % 2 == 0
      setTraced(on, traced)
      traced = on
      passes += pass(kind, passes.size, on)
    }
    setTraced(false, traced)
    val pinned = pinnedBytes(spark)
    val persisted = sc.getPersistentRDDs.size
    tracer.foreach(_.add(Span(workloadId, "", "workload", opt.getOrElse("workload", ""),
      runStart, Clock.now(), Map("pinned_bytes" -> pinned,
        "persisted_rdds" -> persisted.toDouble))))

    spark.stop()
    val nSpans = tracer.map(_.write(s"$out/spans.jsonl")).getOrElse(0)

    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    val json = new StringBuilder("{")
    json ++= s""""setup_s":${arr(setupS.map(Json.num))},"""
    json ++= s""""pinned_bytes":${Json.num(pinned)},"persisted_rdds":$persisted,"""
    json ++= s""""spans":$nSpans,"dump_ms":${Json.num(dumpMs)},"passes":"""
    json ++= arr(passes.map { p =>
      s"""{"kind":${JsonOut.str(p.kind)},"traced":${p.traced},"wall_ms":${Json.num(p.wallMs)},""" +
        s""""calls":""" + arr(p.calls.map { c =>
          s"""{"op":${JsonOut.str(c.op)},"build_ms":${Json.num(c.buildMs)},""" +
            s""""materialize_ms":${Json.num(c.matMs)},"error":""" +
            c.error.map(JsonOut.str).getOrElse("null") + "}"
        }) + "}"
    })
    json ++= s""","dump_errors":{${dumpErrors.map { case (k, v) => s"${JsonOut.str(k)}:${JsonOut.str(v)}" }.mkString(",")}}"""
    json ++= s""","hashes":{${hashes.map { case (k, v) => s"${JsonOut.str(k)}:${arr(v.map(JsonOut.str))}" }.mkString(",")}}}"""
    Files.writeString(Paths.get(s"$out/result.json"), json.toString)
  }

  private def session(out: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // a file scan splits into one share per core (gen.py writes each
      // table in several row groups, the unit a parquet split takes)
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    spark
  }

  /** Session warm-up plus the public memos; returns the memo build time. */
  private def warmUp(spark: SparkSession, data: String, tracer: Option[Tracer]): Double = {
    spark.range(0L, 100000L, 1L, 4).selectExpr("sum(id)").collect()
    val sc = spark.sparkContext
    Seq[(String, () => DataFrame)](
      "tokens" -> (() => Tables.tokens(spark, data)),
      "shingles" -> (() => Tables.shingles(spark, data))).map { case (name, memo) =>
      val id = tracer.map(_.newId("memo")).getOrElse("")
      sc.setLocalProperty(Tracer.SpanProperty, id)
      val m0 = Clock.now()
      memo().count()
      val m1 = Clock.now()
      sc.setLocalProperty(Tracer.SpanProperty, null)
      tracer.foreach(_.add(Span(id, "", "memo", name, m0, m1, Map.empty)))
      m1 - m0
    }.sum
  }

  private def write(df: DataFrame, sink: String, path: String): Unit = sink match {
    case "noop" => df.write.format("noop").mode("overwrite").save()
    case "parquet" => df.write.mode("overwrite").parquet(path)
  }

  private def pinnedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  private def written(dir: String): (Double, Double) = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (files.size.toDouble, files.map(_.length.toDouble).sum)
  }

  /** Order-independent hash of a parquet output: md5 over its sorted rows. */
  private def outputHash(spark: SparkSession, dir: String): String = {
    val rows = spark.read.parquet(dir).collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
