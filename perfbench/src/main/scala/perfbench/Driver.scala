package perfbench

import java.io.PrintWriter
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.Warehouse

/** Runs one benchmark workload in this JVM and records what it measured.
  *
  * The op sequence comes from a plan file written by run.py: one line per
  * pass, op names separated by commas; line 1 is the cold pass. An op is
  * either a `SparkEntry.queries` name, constructed and then executed
  * through the noop sink, or [[BuildOp]], one `Warehouse.buildAll` into a
  * fresh directory.
  *
  * Usage:
  *   Driver setup <work>
  *   Driver run <data> <work> <plan> <trace 0|1> <out>
  *
  * Both print READY once the session is built. `run` writes JSON lines to
  * <out>: one per op, then the run summary, then (when traced) one per
  * span, then the correctness-check inputs.
  */
object Driver {
  val BuildOp = "warehouse.buildAll"
  /** The `dim_*`/`fact_*` oracles that `Warehouse.buildAll`'s tables are checked against. */
  val BuildTables = Seq("dim_customer", "dim_supplier", "dim_part", "dim_order", "dim_date",
    "fact_daily_inventory", "fact_monthly_payment")

  /** The measuring session: `graft.Bench`'s configuration at four local
    * slots, with every file Spark writes kept under `work`.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: work :: Nil =>
      val spark = session(work)
      ready()
      spark.stop()
    case "run" :: data :: work :: plan :: trace :: out :: Nil =>
      val spark = session(work)
      ready()
      val heap = new HeapAfterGc
      val w = new PrintWriter(out, "UTF-8")
      try run(spark, data, work, Files.readAllLines(Paths.get(plan)).asScala.toList
          .map(_.split(',').toSeq.filter(_.nonEmpty)), trace == "1", heap, w)
      finally w.close()
      // everything Spark wrote is under `work`, which run.py deletes, so
      // the JVM ends here instead of paying for an orderly shutdown
      System.out.flush()
      Runtime.getRuntime.halt(0)
    case _ =>
      System.err.println("usage: Driver setup <work> | Driver run <data> <work> <plan> <trace> <out>")
      sys.exit(2)
  }

  private def ready(): Unit = { println("READY"); System.out.flush() }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def record(fields: (String, Any)*): String = mapper.writeValueAsString(fields.toMap)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Option[Double] =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)

  /** The heap in use right after each collection, in bytes: what the
    * program keeps alive at that moment, whatever the heap's size. Follows
    * every collection from the time it is made, in intervals that `take`
    * ends.
    */
  private final class HeapAfterGc extends NotificationListener {
    private val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    private val heapPoolNames = heapPools.map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
        synchronized { samples += used }
      }

    /** The samples since the last call. */
    def take(): Seq[Long] = synchronized {
      val r = samples.toList
      samples.clear()
      r
    }

    /** The heap in use after the latest collection, also one made before
      * this listener was attached.
      */
    def latest(): Long =
      heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
  }

  /** Peak bytes in the non-heap pools: metaspace and generated code. */
  private def peakNonHeap(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum

  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toList

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toList.reverse.foreach(Files.delete)

  private def run(spark: SparkSession, data: String, work: String, passes: Seq[Seq[String]],
                  trace: Boolean, heap: HeapAfterGc, out: PrintWriter): Unit = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val buildRoot = Paths.get(work, "build")
    var lastBuild: Option[Path] = None
    val constructed = scala.collection.mutable.Map.empty[String, DataFrame]

    def runOp(pass: Int, name: String, traced: Boolean): Unit = {
      val t = tracer.filter(_ => traced)
      val opSpan = t.map(_.open("op", name))
      def phase[A](kind: String)(body: => A): A = {
        val s = t.map(_.open(kind, name, opSpan.get.id))
        try body finally for (tr <- t; sp <- s) tr.close(sp)
      }
      var construct, execute = 0.0
      var rows, files = 0L
      var error: Option[String] = None
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      try {
        if (name == BuildOp) {
          lastBuild.foreach(deleteTree)
          val dir = buildRoot.resolve(s"b$pass")
          lastBuild = Some(dir)
          rows = Warehouse.buildAll(spark, data, dir.toString).map(_.rows).sum
        } else {
          val df = phase("construct")(SparkEntry.queries(name)(spark, data))
          construct = (System.nanoTime() - t0) / 1e9
          constructed(name) = df
          phase("execute")(df.write.mode("overwrite").format("noop").save())
          execute = (System.nanoTime() - t0) / 1e9 - construct
        }
      } catch { case NonFatal(e) => error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val opS = (System.nanoTime() - t0) / 1e9
      val gcS = gcSeconds() - gc0
      for (tr <- t; sp <- opSpan) tr.close(sp)
      spark.catalog.clearCache()
      lastBuild.filter(_ => name == BuildOp).foreach(dir => files = dataFiles(dir).size)
      out.println(record(
        "type" -> "op", "pass" -> pass, "name" -> name, "traced" -> traced,
        "span" -> opSpan.map(_.id).getOrElse(-1), "op_s" -> opS, "construct_s" -> construct,
        "execute_s" -> execute, "gc_s" -> gcS, "rows" -> rows, "files" -> files,
        "error" -> error))
    }

    val heapSamples = for ((ops, p) <- passes.zipWithIndex) yield {
      // traced runs trace the cold pass, leave the first warm pass
      // untraced to settle, then trace the warm passes in an
      // untraced-traced-traced-untraced cycle: the untraced ones give the
      // tracing overhead without favouring the side that runs later
      val cycle = (p - 2) % 4
      val traced = tracer.isDefined && (p == 0 || (p >= 2 && (cycle == 1 || cycle == 2)))
      if (traced) tracer.get.attach()
      ops.foreach(runOp(p, _, traced))
      if (traced) tracer.get.detach()
      heap.take()
    }
    out.println(record("type" -> "summary", "passes" -> passes.size, "peak_rss_mb" -> peakRssMb(),
      "pass_heap_mb" -> heapSamples.map(_.map(_ / 1048576.0)),
      "latest_heap_mb" -> heap.latest() / 1048576.0,
      "non_heap_mb" -> peakNonHeap() / 1048576.0))
    tracer.foreach(_.spans.foreach { s =>
      out.println(record("type" -> "span", "id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> Some(s.end).filterNot(_.isNaN), "parent" -> s.parent, "link" -> s.link,
        "attrs" -> s.attrs))
    })

    // correctness inputs, outside the timed passes: the result of each op's
    // last timed DataFrame as parquet (the build's own last output for
    // BuildOp) and its oracle SQL
    val names = passes.head.distinct
    val checkRoot = Paths.get(work, "check")
    val checkStart = System.nanoTime()
    names.foreach { name =>
      val (result, oracles) =
        if (name == BuildOp)
          (lastBuild.map(_.toString), BuildTables.map(t => t -> SparkEntry.oracleSql.get(t)).toMap)
        else {
          val dir = checkRoot.resolve(name).toString
          val written = try {
            constructed.getOrElse(name, SparkEntry.queries(name)(spark, data))
              .write.mode("overwrite").parquet(dir)
            Some(dir)
          } catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] check dump of $name failed: ${e.getMessage}")
            None
          } finally spark.catalog.clearCache()
          (written, Map(name -> SparkEntry.oracleSql.get(name)))
        }
      out.println(record("type" -> "check", "name" -> name, "result" -> result,
        "oracles" -> oracles))
    }
    System.err.println(f"[perfbench] check dumps took ${(System.nanoTime() - checkStart) / 1e9}%.1f s")
  }
}
