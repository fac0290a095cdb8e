package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.flights.{Pipeline, PipelineConfig, ScaleFixture, StarSchema}
import graft.streaming.EventStream

/** The JVM half of the benchmark. `run.py` writes a plan (the workload's
  * op sequence, already drawn from the seed), this program executes it
  * in one fresh Spark session and writes raw per-op records plus, in a
  * traced run, layer counters and spans. All accounting (percentiles,
  * failures, answer checks) happens in `run.py`.
  *
  * Usage: Harness run <plan.json> <out.json>
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** The registered queries, each with its owning module. A query's
    * function is a lambda whose class is named after the object that
    * registers it (`graft.ext.Dedup$$$Lambda...` -> `ext.Dedup`).
    */
  private lazy val registry: Map[String, (String, Query)] =
    graft.SparkEntry.queries.map { case (k, f) =>
      k -> (f.getClass.getName.stripPrefix("graft.").takeWhile(_ != '$'), f)
    }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", plan, out) =>
      new Run(new ObjectMapper().readTree(Files.readString(Paths.get(plan)))).apply(Paths.get(out))
    case _ =>
      System.err.println("usage: Harness run <plan.json> <out.json>")
      sys.exit(2)
  }

  /** Row count and an order-insensitive content hash (wrapping sum of
    * per-row xxhash64), computed in the single action that executes the
    * query's own physical plan.
    */
  def countAndHash(qe: QueryExecution): (Long, Long) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val attrs = qe.executedPlan.output
    val hash = new XxHash64(attrs.map(a =>
      if (hasMap(a.dataType)) Cast(a, StringType, Some("UTC")) else a), 42L)
    val parts = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(Seq(hash), attrs)
      var n = 0L
      var h = 0L
      while (it.hasNext) { n += 1; h += proj(it.next()).getLong(0) }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private final class Run(plan: JsonNode) {
    private val workload = plan.get("workload").asText
    private val cores = plan.get("cores").asInt
    private val traced = plan.get("trace").asBoolean
    private val work = plan.get("work_dir").asText
    private val streamOp = plan.path("stream").asText("")
    private def strings(n: JsonNode): Seq[String] =
      if (n == null) Nil else n.elements.asScala.map(_.asText).toSeq

    private val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.callstack.depth", if (traced) "200" else "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    private val sc = spark.sparkContext

    private val trace: Option[Trace] =
      if (traced) {
        val t = new Trace
        sc.addSparkListener(t)
        spark.streams.addListener(t.streams)
        Some(t)
      } else None

    /** Runs `body` as a span of `kind` under `parent`, with the local
      * properties that let the listener parent the jobs it submits.
      */
    private def span[T](kind: String, name: String, parent: Long, op: Int,
        module: String)(body: => T): T = trace match {
      case None => body
      case Some(t) =>
        val id = t.newId()
        sc.setLocalProperty("perfbench.span", id.toString)
        sc.setLocalProperty("perfbench.op", op.toString)
        sc.setLocalProperty("perfbench.module", module)
        val start = t.nowUs()
        try body
        finally {
          t.add(Span(id, parent, kind, name, op, start, t.nowUs()))
          sc.setLocalProperty("perfbench.span", parent.toString)
        }
    }
    private def currentSpan: Long =
      Option(sc.getLocalProperty("perfbench.span")).map(_.toLong).getOrElse(-1L)

    private val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    /** Heap still in use once full GCs stop freeing memory: after each
      * GC a pause lets Spark's cleaner drop the blocks that GC made
      * unreachable, until a GC frees less than 1 MB (at most 10 GCs).
      * A fixed number of GCs reads high whenever the cleaner lags.
      */
    private def liveHeapMb(): Double = {
      def usedAfterGc(): Double = {
        System.gc()
        heap.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var live = usedAfterGc()
      var freed = Double.MaxValue
      var gcs = 1
      while (freed >= 1.0 && gcs < 10) {
        Thread.sleep(100)
        val now = usedAfterGc()
        freed = live - now
        live = math.min(live, now)
        gcs += 1
      }
      live
    }

    private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** CPU time of the whole JVM (every thread), in nanoseconds. */
    private def cpuNs(): Long = os.getProcessCpuTime
    private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    private def mark(what: String): Unit =
      System.err.println(f"[t ${(System.currentTimeMillis() - born) / 1000.0}%.1f s] $what")

    def apply(out: java.nio.file.Path): Unit = {
      mark("session ready")
      val result =
        try plan.get("kind").asText match {
          case "queries" => queries()
          case "dag" => dag()
        }
        finally {
          Drain(sc)
          spark.streams.active.foreach(_.stop())
        }
      Drain(sc)
      mark("ops done")
      val layers = trace.map(layerCounters).getOrElse(Map.empty)
      Json.write(out, result ++ Map("workload" -> workload, "layers" -> layers,
        "spans" -> trace.map(_.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "op" -> s.op, "start_us" -> s.startUs,
          "end_us" -> s.endUs))).getOrElse(Nil)))
      mark("written")
      spark.stop()
      mark("stopped")
    }

    private def layerCounters(t: Trace): Map[String, Any] = t.synchronized {
      Map("counts" -> t.counts.toMap,
        "pins" -> t.pinnedRdds.size,
        "streaming_batch_s" -> t.batchSeconds.toSeq,
        "streaming_state_rows" -> t.stateRows.values.sum)
    }

    // ---- registered-query workloads ---------------------------------

    /** The op that is not a registered query: `EventStream.streamingLoadCatchup`
      * drains the events backlog under the AvailableNow trigger, one
      * micro-batch per file, into a fresh table under `out`; the answer is
      * that table's row count and content hash.
      */
    private def catchUp(dir: String, out: String): (Long, Long) = {
      val events = s"$dir/events_stream"
      val schema = spark.read.parquet(events).schema
      val q = EventStream.streamingLoadCatchup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(events),
        s"$out/table", s"$out/checkpoint")
      try q.awaitTermination() finally q.stop()
      countAndHash(spark.read.parquet(s"$out/table")
        .select(schema.fieldNames.toSeq.map(col): _*).queryExecution)
    }

    /** The answer of op `name` over `dir`, untimed (warm-up). */
    private def answer(name: String, dir: String, out: String): (Long, Long) =
      if (name == streamOp) catchUp(dir, out)
      else countAndHash(registry(name)._2(spark, dir).queryExecution)

    private def runQuery(i: Int, name: String, dir: String): Map[String, Any] = {
      val module =
        if (name == streamOp) "streaming.EventStream"
        else registry.get(name).map(_._1).getOrElse("unregistered")
      span("op", name, -1L, i, module) {
        val opSpan = currentSpan
        try {
          val c0 = cpuNs()
          val t0 = System.nanoTime()
          var (t1, t2) = (t0, t0)
          val (rows, hash) =
            if (name == streamOp)
              span("exec", name, opSpan, i, module)(catchUp(dir, s"$work/stream/$i"))
            else {
              val df = span("build", name, opSpan, i, module)(registry(name)._2(spark, dir))
              t1 = System.nanoTime()
              val qe = df.queryExecution
              span("plan", name, opSpan, i, module)(qe.executedPlan)
              t2 = System.nanoTime()
              span("exec", name, opSpan, i, module)(countAndHash(qe))
            }
          val t3 = System.nanoTime()
          Map("i" -> i, "name" -> name, "module" -> module, "status" -> "ok",
            "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
            "exec_s" -> (t3 - t2) / 1e9, "seconds" -> (t3 - t0) / 1e9,
            "cpu_s" -> (cpuNs() - c0) / 1e9,
            "rows" -> rows, "hash" -> hash.toString)
        } catch {
          case e: Throwable =>
            Map("i" -> i, "name" -> name, "module" -> module, "status" -> "error",
              "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      }
    }

    /** The set-up, once per entry of `reps`, each timed; then, untimed, a
      * wait for the JIT compiler to settle. Counters start afresh after
      * both.
      */
    private def setup(reps: Seq[JsonNode])(rep: JsonNode => Unit): Seq[Double] = {
      val repSecs = reps.map { r =>
        val t0 = System.nanoTime()
        span("setup", "setup", -1L, -1, "bench")(rep(r))
        mark("set-up rep done")
        secs(t0)
      }
      jitSettle()
      Drain(sc)
      trace.foreach(_.reset())
      repSecs
    }

    /** Waits (at most 5 s) until the JIT compiler has been idle for a
      * quarter second, so compilations queued by the warm-up do not land
      * in the first timed ops.
      */
    private def jitSettle(): Unit = {
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val deadline = System.nanoTime() + 5000000000L
      var last = jit.getTotalCompilationTime
      var idle = false
      while (!idle && System.nanoTime() < deadline) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        idle = now - last < 5
        last = now
      }
    }

    private def progress(r: Map[String, Any]): Unit =
      System.err.println(s"[op ${r("i")}] ${r("name")} ${r("status")} ${r.getOrElse("seconds", "-")}")

    private def pinMb(): Double =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

    private def queries(): Map[String, Any] = {
      val warm = strings(plan.get("warm"))
      val setupErrors = Seq.newBuilder[String]
      val setupSecs = setup(plan.get("setup").elements.asScala.toSeq) { rep =>
        val dir = rep.get("warm_dir").asText
        warm.foreach { q =>
          try answer(q, dir, s"$dir/stream")
          catch { case e: Throwable => setupErrors += s"warm-up $q: ${e.getMessage}".take(300) }
        }
      }
      val dir = plan.get("data_dir").asText
      val heapEvery = plan.get("heap_every").asInt
      val heapMb = Seq.newBuilder[Double]
      heapMb += liveHeapMb()
      val records = strings(plan.get("ops")).zipWithIndex.map { case (q, i) =>
        val r = runQuery(i, q, dir)
        progress(r)
        if ((i + 1) % heapEvery == 0) heapMb += liveHeapMb()
        if (traced) r + ("pin_mb" -> pinMb()) else r
      }
      heapMb += liveHeapMb()
      // the stream's input read as a batch: what an exactly-once load of
      // events with unique ids must reproduce (checked by regen.py)
      val streamSource =
        if (plan.path("stream_source").asBoolean(false)) {
          val (rows, hash) = countAndHash(spark.read.parquet(s"$dir/events_stream").queryExecution)
          Map("rows" -> rows, "hash" -> hash.toString)
        } else Map.empty
      Map("setup_s" -> setupSecs, "setup_errors" -> setupErrors.result(),
        "ops" -> records, "heap_mb" -> heapMb.result(), "stream_source" -> streamSource)
    }

    // ---- the flights DAG ---------------------------------------------

    /** ScaleFixture's tables cut to every `fraction`-th ticket (with its
      * ticket_flights and boarding passes, and the bookings they
      * reference); the reference-sized flights and dimension tables are
      * kept whole.
      */
    private def stageSource(dir: String, fraction: Int): Map[String, DataFrame] = {
      import org.apache.spark.sql.functions._
      val full = ScaleFixture.staging(spark)
      val tickets = full("tickets").filter(col("id") % fraction === 0)
      val byTicket = (t: String) => full(t).filter(floor(col("id") / 3) % fraction === 0)
      val cut = full ++ Map(
        "tickets" -> tickets,
        "ticket_flights" -> byTicket("ticket_flights"),
        "boarding_passes" -> byTicket("boarding_passes"),
        "bookings" -> full("bookings").join(
          tickets.select("book_ref").distinct(), Seq("book_ref"), "left_semi"))
      cut.map { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$t")
        t -> spark.read.parquet(s"$dir/$t")
      }
    }

    private def starAnswers(wh: String): Map[String, Any] =
      StarSchema.transforms.map { case (name, _) =>
        val (rows, hash) = countAndHash(spark.read.parquet(s"$wh/$name").queryExecution)
        name -> Map("rows" -> rows, "hash" -> hash.toString)
      }.toMap

    private def dag(): Map[String, Any] = {
      val fraction = plan.get("fraction").asInt
      val cfg = PipelineConfig(csvEdge = true)
      val reps = plan.get("setup").elements.asScala.toSeq
      var source: Map[String, DataFrame] = Map.empty
      val setupSecs = setup(reps) { rep =>
        source = stageSource(rep.get("source_dir").asText, fraction)
      }
      val wh = plan.get("warehouse_dir").asText
      val heapMb = Seq.newBuilder[Double]
      heapMb += liveHeapMb()
      val records = Seq.newBuilder[Map[String, Any]]
      val checks = Seq.newBuilder[Map[String, Any]]
      plan.get("ops").elements.asScala.zipWithIndex.foreach { case (op, i) =>
        op.get("kind").asText match {
          case "day" =>
            val ds = op.get("day").asText
            val name = s"${op.get("phase").asText} $ds"
            val c0 = cpuNs()
            val t0 = System.nanoTime()
            val rec =
              try {
                val loaded = span("op", name, -1L, i, "flights")(
                  Pipeline.runFor(spark, source, wh, ds, cfg))
                Map("i" -> i, "name" -> name, "status" -> "ok", "seconds" -> secs(t0),
                  "cpu_s" -> (cpuNs() - c0) / 1e9,
                  "rows_extracted" -> loaded.values.collect {
                    case graft.engine.Incremental.Loaded(n) => n }.sum)
              } catch {
                case e: Throwable =>
                  Map("i" -> i, "name" -> name, "status" -> "error",
                    "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
              }
            progress(rec)
            records += (if (traced) rec + ("pin_mb" -> pinMb()) else rec)
            heapMb += liveHeapMb()
          case "check" =>
            mark("check")
            checks += Map("after" -> op.get("after").asText, "star" ->
              (try starAnswers(wh) catch {
                case e: Throwable => Map("error" -> s"${e.getMessage}".take(500))
              }))
        }
      }
      val direct =
        if (plan.path("direct_star").asBoolean(false)) {
          val dir = s"$work/direct"
          StarSchema.transforms.foreach { case (name, fn) =>
            fn(source).write.mode("overwrite").parquet(s"$dir/$name")
          }
          starAnswers(dir)
        } else Map.empty
      Map("setup_s" -> setupSecs, "setup_errors" -> Nil,
        "ops" -> records.result(), "checks" -> checks.result(), "direct_star" -> direct,
        "heap_mb" -> heapMb.result())
    }
  }
}

/** Minimal JSON writer for the harness's maps, sequences and scalars. */
object Json {
  def write(path: java.nio.file.Path, v: Any): Unit = Files.writeString(path, render(v))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
