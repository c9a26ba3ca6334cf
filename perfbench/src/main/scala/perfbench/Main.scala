package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.pipeline.MoviePipeline
import graft.sink.{InMemoryKVStore, KVSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One unit of timed work. `build` calls into the engine and returns the
  * frame; `action` runs it. `check` validates what the action left
  * behind and returns an error, if any; `prepare` resets that state. */
final case class Op(name: String, build: () => DataFrame,
    action: DataFrame => Unit, events: Long = 0L,
    prepare: () => Unit = () => (), check: () => Option[String] = () => None)

/** Benchmark harness: builds a session, registers the engine's functions,
  * runs one warm-up query, then runs one workload's op list untimed once
  * and timed for about `--seconds`, checking every op's output. Prints one
  * JSON line of metrics. See perfbench/README.md. */
object Main {
  private val mapper = new ObjectMapper()
  /** the function behind SparkEntry.entry, over the smallest tables */
  private val WarmupQuery = "q06_dedup_latest"
  private val WarmupData = "data/sf0.001"
  private val QueryData = "data/sf0.01"
  /** timed passes per run, at least: on `movie_etl` four passes over its
    * batches time 20 ops; `multi_job` passes still get faster up to about
    * the fifth, and six spread less across seeds than four
    * (perfbench/README.md) */
  private val MinPasses = Map("movie_etl" -> 4, "multi_job" -> 6)

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = new File(opt("bench-dir"))
    val work = new File(opt("work"))
    val cpus = opt("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      SparkEntry.queries(WarmupQuery)(spark, new File(benchDir, WarmupData).getPath)
        .write.format("noop").mode("overwrite").save()
      val setup = (System.nanoTime() - mainStart) / 1e9

      val workload = opt("workload")
      opt.get("record") match {
        case Some(path) =>
          record(spark, benchDir, queries(benchDir, workload), new File(path))
        case None =>
          val seed = opt("seed").toLong
          val t0 = System.nanoTime()
          val ops = workload match {
            case "movie_etl" => movieOps(spark, work, seed)
            case "multi_job" => queryOps(spark, benchDir, queries(benchDir, workload), seed)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          System.err.println(f"[perfbench] set-up $setup%.1f s, inputs ${(System.nanoTime() - t0) / 1e9}%.1f s")
          measure(spark, work, workload, seed, ops, setup,
            opt("seconds").toDouble, MinPasses(workload), opt("trace") == "1", cpus)
      }
    } finally spark.stop()
  }

  /** A query workload's frozen op list from workloads.json. */
  private def queries(benchDir: File, workload: String): Seq[String] = {
    val list = mapper.readTree(new File(benchDir, "workloads.json")).get(workload)
    require(list != null, s"no query list for $workload in workloads.json")
    list.elements.asScala.map(_.asText).toSeq
  }

  /** Declared queries, each built against the workload's table directory
    * and collected, in a seed-drawn order. Collecting (rather than the
    * noop sink graft.Bench writes to) evaluates every output column just
    * the same and lets every op's output be checked: row count and digest
    * against expected.tsv, after the op's clock has stopped. */
  private def queryOps(spark: SparkSession, benchDir: File, queries: Seq[String],
      seed: Long): Seq[Op] = {
    val dir = new File(benchDir, QueryData).getPath
    val exp = expected(benchDir)
    val names = new scala.util.Random(seed).shuffle(queries)
    names.map { n =>
      val fn = SparkEntry.queries(n)
      var rows = Array.empty[Row]
      Op(n, () => fn(spark, dir), df => rows = df.collect(),
        check = () => {
          val got = Digest.of(rows)
          rows = Array.empty
          exp.get(n) match {
            case None => Some("no expected digest")
            case Some(e) if e != got =>
              Some(s"rows/digest ${got._1}/${got._2}, expected ${e._1}/${e._2}")
            case _ => None
          }
        })
    }
  }

  /** One incremental movie-ETL batch per op: pipeline over the batch with
    * the existing state, then the KV write; the store's content is then
    * compared with the reference model's. */
  private def movieOps(spark: SparkSession, work: File, seed: Long): Seq[Op] = {
    val root = new File(work, "movie_etl")
    graft.FsUtil.deleteRecursively(root.toPath)
    val (stateDir, batches) = MovieGen.generate(seed, root)
    val stateSchema = MoviePipeline.explodeEvents(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        MoviePipeline.inputSchema)).schema
    val store = InMemoryKVStore.data
    batches.map { b =>
      Op(new File(b.dir).getName,
        () => MoviePipeline.run(spark, b.dir,
          Some(spark.read.schema(stateSchema).json(stateDir))),
        df => KVSink.writeBatch(df, new InMemoryKVStore),
        events = b.events,
        prepare = () => store.clear(),
        check = () => {
          val got = store.asScala
          if (got.size != b.expected.size)
            Some(s"${got.size} keys written, ${b.expected.size} expected")
          else b.expected.collectFirst {
            case (k, v) if !got.get(k).map(Digest.hash64).contains(v) =>
              s"wrong value for $k"
          }
        })
    }
  }

  private def expected(benchDir: File): Map[String, (Long, String)] =
    Files.readAllLines(new File(benchDir, "expected.tsv").toPath).asScala
      .filterNot(_.startsWith("#")).map(_.split("\t")).map {
        case Array(q, rows, digest) => q -> (rows.toLong, digest)
      }.toMap

  /** Writes the row count and digest of each of the workload's queries. */
  private def record(spark: SparkSession, benchDir: File, queries: Seq[String],
      out: File): Unit = {
    val dir = new File(benchDir, QueryData).getPath
    val lines = queries.map { q =>
      val (n, d) = Digest.of(sweep(spark)(SparkEntry.queries(q)(spark, dir).collect())._1)
      s"$q\t$n\t$d"
    }
    Files.write(out.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Runs `body`, then frees what it cached, as graft.Bench does after
    * every query. Returns the result and how many persisted RDDs it had
    * left behind. */
  private def sweep[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      val r = body
      (r, sc.getPersistentRDDs.keySet.count(id => !before.contains(id)))
    } finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }

  private final case class Timing(op: Op, seconds: Double, ok: Boolean)

  private def measure(spark: SparkSession, work: File, workload: String,
      seed: Long, ops: Seq[Op], setup: Double, seconds: Double,
      minPasses: Int, trace: Boolean, cpus: Int): Unit = {
    val errors = mutable.LinkedHashMap[String, String]()
    val t0 = System.nanoTime()

    // One pass over the op list. Returns the pass's wall seconds: op time
    // plus the cache sweep after each op, without the harness's checks.
    def pass(rec: Option[(LayerRecorder, Long)],
        out: mutable.Buffer[Timing]): Double = {
      var wall = 0.0
      ops.foreach { op =>
        op.prepare()
        val opSpan = rec.map { case (r, root) => r.open(root, s"op:${op.name}") }
        def phase[T](name: String)(body: => T): T = (rec, opSpan) match {
          case (Some((r, _)), Some(parent)) =>
            val s = r.open(parent, name)
            try r.within(s)(body) finally r.close(s)
          case _ => body
        }
        val t0 = System.nanoTime()
        val ((ok, t1), leaked) = sweep(spark) {
          val ok = try {
            val df = phase("build")(op.build())
            phase("action")(op.action(df))
            true
          }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(op.name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
          (ok, System.nanoTime())
        }
        val t2 = System.nanoTime()
        for ((r, _) <- rec; s <- opSpan) { r.close(s); r.addLeaked(leaked) }
        if (ok) op.check().foreach(e => errors.getOrElseUpdate(op.name, e))
        rec.foreach { case (r, _) if op.events > 0 =>
          val store = InMemoryKVStore.data.asScala
          r.addSink(store.size, store.valuesIterator.map(_.length.toLong).sum, op.events)
        case _ => }
        out += Timing(op, (t1 - t0) / 1e9, ok)
        wall += (t2 - t0) / 1e9
      }
      wall
    }

    // Repeats `unit` (one pass, or a pair) until `seconds` have gone and
    // `done` has reached `min`. Passes still get faster over a run, so a
    // slow run must not get fewer of them than a fast one: `min` passes
    // outlast the run_seconds of BENCHMARK.json, and a slow spell of the
    // host does not also move the median onto a less warm pass.
    def repeat(min: Int, done: => Int)(unit: => Unit): Unit = {
      val start = System.nanoTime()
      do unit while ((System.nanoTime() - start) / 1e9 < seconds || done < min)
    }

    // untimed: one pass that warms the JVM; it checks outputs like any pass
    pass(None, mutable.ArrayBuffer[Timing]())
    System.err.println(f"[perfbench] untimed pass ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val walls = mutable.ArrayBuffer[Double]()
    val timings = mutable.ArrayBuffer[Timing]()
    if (!trace) repeat(minPasses, walls.size) { walls += pass(None, timings) }
    else {
      // untraced passes bracket every traced one (U T U T U ...); each
      // traced pass is set against the mean of its two neighbours, which
      // cancels the warm-up drift over a run. Half as many pairs as the
      // untraced run has passes.
      val rec = new LayerRecorder(spark, cpus)
      rec.start()
      val root = rec.open(0, s"workload:$workload")
      val traced = mutable.ArrayBuffer[Double]()
      walls += pass(None, timings)
      repeat(minPasses / 2, traced.size) {
        rec.beginPass()
        traced += pass(Some((rec, root)), timings)
        rec.endPass()
        walls += pass(None, timings)
      }
      rec.close(root)
      rec.finish()
      rec.metrics(traced.size).foreach { case (k, v, u) => metrics(k) = (v, u) }
      System.gc(); System.gc()
      metrics("heap.live_mb") =
        (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB")
      metrics("trace.wall_s") = (Stats.median(traced.toSeq), "s")
      metrics("trace.overhead_s") = (Stats.median(traced.indices.map(i =>
        traced(i) - (walls(i) + walls(i + 1)) / 2)), "s")
      rec.writeTrace(new File(work, s"trace/$workload-seed$seed.jsonl"))
    }

    val lat = timings.map(_.seconds).toSeq
    val failed = timings.count(t => !t.ok || errors.contains(t.op.name))
    val passEvents = ops.map(_.events).sum
    if (!trace) {
      metrics("setup_s") = (setup, "s")
      metrics("wall_s") = (Stats.median(walls.toSeq), "s")
      metrics("op_p50_s") = (Stats.median(lat), "s")
    }
    // printed for reading, not gated: both follow from the gated metrics
    val info = Seq(
      s"passes=${walls.map(w => f"$w%.2f").mkString("[", ",", "]")}",
      s"ops=${timings.size}",
      "op_median_s=" + timings.groupBy(_.op.name).toSeq.sortBy(_._1).map { case (n, ts) =>
        f"$n:${Stats.median(ts.map(_.seconds).toSeq)}%.2f" }.mkString(","),
      s"failed_frac=${failed.toDouble / timings.size}") ++
      (if (passEvents > 0) Seq(s"events_per_s=${passEvents / Stats.median(walls.toSeq)}")
       else Nil)
    System.err.println(s"[perfbench] $workload seed=$seed " + info.mkString(" "))
    errors.foreach { case (k, v) => System.err.println(s"[perfbench] FAILED $k: $v") }
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${errors.isEmpty}, "attempted": ${timings.size}, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
  }
}
