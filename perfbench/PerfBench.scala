package perfbench

import java.lang.management.ManagementFactory
import java.util.Locale
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Closed-loop pass runner over a fixed list of `graft.SparkEntry.queries`
  * rows, driven by `run.py`, which aggregates and checks what this prints.
  *
  * Each registry function is called and its plan consumed once, as
  * `graft.Bench` does with `queryExecution.toRdd.count()`; here the
  * consumer also folds every row into an order-independent digest, so
  * each timed execution is checked. Every layer is timed from outside the
  * engine: a `SparkListener`, JMX beans, Hadoop's local-filesystem
  * statistics and timers around the calls.
  *
  * Usage: PerfBench <data dir> <q1,q2,...> <seed> <passes> <trace 0|1>
  *   <cores> <state dir>
  *
  * Prints one `PB {json}` line per query execution, set-up, pass and the
  * yardstick. With trace 1, only traced passes carry a listener.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val Array(dataDir, list, seedArg, passesArg, traceArg, coresArg, stateDir) = args
    val names = list.split(",").toSeq
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val registry = graft.SparkEntry.queries
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))
    val rng = new scala.util.Random(seedArg.toLong)
    Heap.install()

    // Set-up: the session, table warm-up and one untimed warm pass, which
    // fills the JIT, codegen and the engine's disk memos, a cost paid once
    // and not per query. It starts at JVM launch, which run.py times from
    // outside.
    val t0 = System.nanoTime()
    val spark = session(stateDir, cores)
    val t1 = System.nanoTime()
    warmTables(spark, dataDir)
    val t2 = System.nanoTime()
    for (n <- names) {
      val e = runQuery(spark, registry(n), dataDir, pinned = false)
      emit("warm", ("name" -> n) +: e: _*)
    }
    emit("setup", "session_s" -> (t1 - t0) / 1e9, "tables_s" -> (t2 - t1) / 1e9,
      "end_epoch_ms" -> System.currentTimeMillis())

    val recorder = new Recorder
    // A fixed number of passes, so that every run of a workload times the
    // same passes. A traced run takes five: a first one that run.py
    // discards, then traced and untraced passes in the order T U U T, so
    // that a drift in pass time over the run cancels out of the overhead.
    val passes = if (trace) 5 else passesArg.toInt
    for (pass <- 1 to passes) {
      val traced = trace && (pass == 2 || pass == 5)
      val order = rng.shuffle(names)
      // Every pass starts from a collected heap, so its post-GC readings
      // do not depend on what earlier passes left in the old generation.
      // This collection is outside the pass; the program's own
      // collections inside it are timed with it.
      System.gc()
      if (traced) { recorder.reset(); spark.sparkContext.addSparkListener(recorder) }
      val jvm = JvmCounters.snapshot()
      Heap.resetPeak()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val execs = order.map(n => n -> runQuery(spark, registry(n), dataDir, pinned = traced))
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val heapPeak = Heap.peakMb
      val jvmDelta = JvmCounters.snapshot().minus(jvm)
      execs.foreach { case (n, e) => emit("query", ("pass" -> pass) +: ("traced" -> traced) +: ("name" -> n) +: e: _*) }
      val layer =
        if (!traced) Seq.empty
        else {
          org.apache.spark.BusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(recorder)
          recorder.fields(startMs, endMs, cores)
        }
      emit("pass", Seq[(String, Any)]("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "heap_peak_mb" -> heapPeak, "gc_pause_s" -> jvmDelta.gcS,
        "scratch_mb" -> jvmDelta.fsWrittenBytes / 1048576.0) ++ layer: _*)
    }

    val y0 = System.nanoTime()
    graft.Bench.yardstick(spark)
    emit("yardstick", "s" -> (System.nanoTime() - y0) / 1e9)
    spark.stop()
  }

  def session(dir: String, cores: Int): SparkSession = {
    new java.io.File(s"$dir/scratch").mkdirs()
    val s = graft.GraftSession.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.graft.scratch.dir", s"$dir/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `Bench`'s warm-up: one scan-aggregate job before the first query. */
  def warmTables(spark: SparkSession, dataDir: String): Unit =
    spark.read.parquet(s"$dataDir/lineitem.parquet").groupBy("l_returnflag").count().collect()

  /** One execution: construct the plan, consume every row into the
    * digest, then release what the query left persisted (as `Bench` does),
    * reading the pinned state first when asked to.
    */
  def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dataDir: String, pinned: Boolean): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    var fields = Seq.empty[(String, Any)]
    try {
      val df = fn(spark, dataDir)
      val t1 = System.nanoTime()
      val (rows, digest) = Digest.of(df)
      val t2 = System.nanoTime()
      val planMs = df.queryExecution.tracker.phases
        .collect { case (p, s) if Set("analysis", "optimization", "planning")(p) => s.durationMs }.sum
      fields = Seq("wall_s" -> (t2 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9,
        "execute_s" -> (t2 - t1) / 1e9, "plan_ms" -> planMs,
        "rows" -> rows, "digest" -> f"$digest%016x")
    } catch {
      case e: Throwable =>
        fields = Seq("wall_s" -> (System.nanoTime() - t0) / 1e9,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
    val sc = spark.sparkContext
    if (pinned) {
      val info = sc.getRDDStorageInfo
      fields = fields ++ Seq("pinned_rdds" -> sc.getPersistentRDDs.size,
        "pinned_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    }
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    fields
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    def v(x: Any): String = x match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(d))
      case b: Boolean => b.toString
      case other => other.toString
    }
    println("PB " + (("kind" -> kind) +: fields).map { case (k, x) => v(k) + ":" + v(x) }.mkString("{", ",", "}"))
    System.out.flush()
  }
}

/** Order-independent digest of a result: the sum, modulo 2^64, of the
  * first eight MD5 bytes of each row's canonical encoding, with columns
  * taken in name order. The encoding compares values, not physical
  * types, so that `check_oracle.py` can recompute it from DuckDB rows:
  * integral numbers (including integral doubles and decimals) encode as
  * `i<n>;`, other doubles by their bits, -0.0 as 0, strings by their
  * UTF-8 bytes, dates as days and timestamps as microseconds.
  */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val ord = fields.map(_._2)
    val types = fields.map(_._1.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var sum = 0L
      it.foreach { row =>
        sb.setLength(0)
        var j = 0
        while (j < ord.length) { enc(sb, row, ord(j), types(j)); j += 1 }
        val h = md5.digest(sb.toString.getBytes("UTF-8"))
        sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
        n += 1
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private val Two63 = 9.223372036854775807e18

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("nan;")
    else if (d.isInfinite) sb.append(if (d > 0) "inf;" else "-inf;")
    else if (d == math.rint(d) && math.abs(d) < Two63) sb.append('i').append(d.toLong).append(';')
    else sb.append('d').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))).append(';')

  def enc(sb: java.lang.StringBuilder, g: SpecializedGetters, i: Int, t: DataType): Unit =
    if (g.isNullAt(i)) sb.append("N;")
    else t match {
      case ByteType => sb.append('i').append(g.getByte(i).toLong).append(';')
      case ShortType => sb.append('i').append(g.getShort(i).toLong).append(';')
      case IntegerType => sb.append('i').append(g.getInt(i).toLong).append(';')
      case LongType => sb.append('i').append(g.getLong(i)).append(';')
      case FloatType => num(sb, g.getFloat(i).toDouble)
      case DoubleType => num(sb, g.getDouble(i))
      case d: DecimalType =>
        val b = g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros
        if (b.scale <= 0) sb.append('i').append(b.toBigIntegerExact).append(';')
        else sb.append('n').append(b.toPlainString).append(';')
      case BooleanType => sb.append(if (g.getBoolean(i)) "t;" else "f;")
      case _: StringType | _: CharType | _: VarcharType =>
        val s = g.getUTF8String(i)
        sb.append('s').append(s.numBytes).append(':').append(s.toString).append(';')
      case BinaryType =>
        sb.append('b'); g.getBinary(i).foreach(x => sb.append(f"$x%02x")); sb.append(';')
      case DateType => sb.append('D').append(g.getInt(i)).append(';')
      case TimestampType | TimestampNTZType => sb.append('T').append(g.getLong(i)).append(';')
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        var k = 0
        while (k < a.numElements()) { enc(sb, a, k, et); k += 1 }
        sb.append(']')
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        sb.append('{')
        st.fields.indices.foreach(k => enc(sb, r, k, st.fields(k).dataType))
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val entries = (0 until m.numElements()).map { k =>
          val e = new java.lang.StringBuilder
          enc(e, m.keyArray(), k, kt); enc(e, m.valueArray(), k, vt)
          e.toString
        }.sorted
        sb.append('<'); entries.foreach(sb.append); sb.append('>')
      case other => sb.append('?').append(String.valueOf(g.get(i, other))).append(';')
    }
}

/** Driver-JVM heap occupancy right after each collection, from GC
  * notifications: the highest reading since the last reset.
  */
object Heap {
  @volatile private var peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def resetPeak(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
}

/** Driver collector time and bytes written through Hadoop's local
  * filesystem (the scratch parquet and the engine's disk memos).
  */
final case class JvmCounters(gcS: Double, fsWrittenBytes: Long) {
  def minus(o: JvmCounters): JvmCounters = JvmCounters(gcS - o.gcS, fsWrittenBytes - o.fsWrittenBytes)
}

object JvmCounters {
  def snapshot(): JvmCounters = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val written = Option(stats).flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
    JvmCounters(gc, written)
  }
}

/** Scheduler, executor, input and shuffle counters of one traced pass. */
final class Recorder extends SparkListener {
  private var jobs, stages, tasks, scanTasks = 0L
  private var runMs, cpuNs, gcMs, inputB, inputRows, shWriteB, shReadB, spillB = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; scanTasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; inputB = 0; inputRows = 0; shWriteB = 0; shReadB = 0; spillB = 0
    jobStart.clear(); intervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      inputB += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) scanTasks += 1
      shWriteB += m.shuffleWriteMetrics.bytesWritten
      shReadB += m.shuffleReadMetrics.totalBytesRead
      spillB += m.diskBytesSpilled
    }
  }

  /** Union of job-active intervals inside the pass window, in ms. */
  private def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    intervals.map { case (s, e) => (s max from, e min to) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { busy += e - (s max end); end = e }
      }
    busy
  }

  /** Counters of the pass that ran from `fromMs` to `toMs`. */
  def fields(fromMs: Long, toMs: Long, cores: Int): Seq[(String, Any)] = synchronized {
    val busy = busyMs(fromMs, toMs)
    Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "driver_only_s" -> (toMs - fromMs - busy) / 1000.0,
      "task_s" -> runMs / 1000.0, "cpu_s" -> cpuNs / 1e9, "exec_gc_s" -> gcMs / 1000.0,
      "parallelism" -> (if (busy > 0) runMs.toDouble / (busy * cores) else 0.0),
      "input_mb" -> inputB / 1048576.0, "input_rows" -> inputRows, "scan_tasks" -> scanTasks,
      "shuffle_write_mb" -> shWriteB / 1048576.0, "shuffle_read_mb" -> shReadB / 1048576.0,
      "spill_mb" -> spillB / 1048576.0)
  }
}

/** Prints the registry's DuckDB oracle SQL as JSON, for `check_oracle.py`. */
object OracleSql {
  def main(args: Array[String]): Unit = println(graft.Verify.oracleJson)
}
