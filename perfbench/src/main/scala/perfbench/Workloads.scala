package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.cdc.{ChangeEvent, Changefeed, Consistency, Mask, MaskPlugin, Materialize, PredicateFilter, Route, RoutePlugin, TransformPlugin}
import graft.cdc.GraftSink.VersionedTable
import graft.operators.{Dedup, MinHash}
import graft.streaming.CdcStream

/** What every workload shares: the session, its core count, the tracer,
  * and the seed every input is derived from. */
final class Ctx(val spark: SparkSession, val cores: Int, val tracer: Tracer,
                val seed: Long)

/** A closed-loop workload with one client: inputs staged from the seed,
  * then one operation after another, each checked against a model of
  * what graft must return. */
trait Workload {
  def name: String
  /** The inputs this seed derives, for the run record. */
  def params: Map[String, Any]
  /** Stage the inputs under `dir`. Repeatable; the last staging is used. */
  def stage(dir: String): Unit
  /** One operation, timed into `w`, followed by its correctness checks. */
  def runOne(w: Window): Unit
  /** Whether the operations run so far form whole cycles of the
    * workload's operation mix; a window ends only at such a boundary, so
    * every window runs the same mix. */
  def atBoundary: Boolean = true
  /** Operations the untimed warm-up runs: every kind of operation at
    * least once, and enough for the JIT to settle. */
  def warmupOps: Int
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "changefeed_merge" => new ChangefeedMerge(ctx)
    case "table_serve" => new TableServe(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** GenSource stream → dedupWithinWatermark → four-plugin changefeed →
  * deliverVersionedMerge into a bucketed VersionedTable, drained
  * AvailableNow over a fixed number of triggers. One operation is one
  * drain into a fresh table; its latency samples are the engine's own
  * per-trigger `triggerExecution` times. */
final class ChangefeedMerge(ctx: Ctx) extends Workload {
  import ctx._

  val name = "changefeed_merge"
  private val rng = new Random(seed)
  private val users = 48000L + rng.nextInt(4000)
  private val rowsPerBatch = 5000L
  private val triggers = 3
  private val rows = rowsPerBatch * triggers
  private val dropLo = rng.nextInt(users.toInt).toLong
  private val dropSpan = users / 8
  private val buckets = 16
  private val checksumBuckets = 16
  private val reprCols =
    Seq("key", "commit_ts_us", "seq", "event_type", "value_e2", "note", "__partition")

  def warmupOps: Int = 2

  def params: Map[String, Any] = Map("users" -> users, "rows_per_batch" -> rowsPerBatch,
    "triggers" -> triggers, "rows" -> rows, "drop_key_lo" -> dropLo,
    "drop_key_span" -> dropSpan, "buckets" -> buckets)

  private def toChangelog(df: DataFrame): DataFrame = df.select(
    col("user_id").as("key"), col("ts_us").as("commit_ts_us"),
    col("event_id").as("seq"),
    when(col("event_type") === "signup", ChangeEvent.Insert)
      .when(col("event_type") === "error", ChangeEvent.Delete)
      .otherwise(ChangeEvent.Update).as("op"),
    col("event_type"), col("value_e2"),
    concat(lit("acct-"), col("event_id").cast("string")).as("note"))

  private val plugins = Seq(
    TransformPlugin("to-changelog", toChangelog),
    PredicateFilter("drop-key-range",
      !(col("key") >= dropLo && col("key") < dropLo + dropSpan)),
    MaskPlugin(Seq("note"), Mask.RedactKeepLast(4)),
    RoutePlugin(Route.KeyMod, 8))
  private val chain = Changefeed(plugins)

  /** The chain as the traced run delivers it: bracketed by two
    * pass-through plugins that time the chain's analysis on the stream
    * thread and count rows in and out with named observations. */
  private val tracedChain = {
    val started = new ThreadLocal[Double]
    Changefeed(
      TransformPlugin("trace-in", { df =>
        started.set(tracer.nowMs)
        df.observe("chain_in", count(lit(1)).as("rows"))
      }) +: plugins :+
      TransformPlugin("trace-out", { df =>
        val out = df.observe("chain_out", count(lit(1)).as("rows"))
        out.queryExecution.analyzed
        tracer.external("chain.analyze", started.get, tracer.nowMs)
        out
      }))
  }

  private var dir = ""
  private var expected = Seq.empty[String]
  private var n = 0

  private def checksum(df: DataFrame): Seq[String] =
    Consistency.checksum(df, col("key"), reprCols.map(col), checksumBuckets)
      .collect().map(r => s"${r.get(0)}:${r.get(1)}:${r.get(2)}").toSeq.sorted

  /** The expected table: Materialize.snapshot over the same generated
    * feed, read as a batch, through the same chain. */
  def stage(d: String): Unit = {
    dir = d
    val feed = spark.read.format("graft.sources.GenSource")
      .option("rows", rows).option("users", users).option("slices", cores).load()
    expected = checksum(Materialize.snapshot(chain.run(feed)))
  }

  def runOne(w: Window): Unit = {
    n += 1
    val table = VersionedTable(s"$dir/table-$n")
    val ckpt = s"$dir/ckpt-$n"
    val stream = CdcStream.dedupWithinWatermark(
      spark.readStream.format("graft.sources.GenSource")
        .option("rows", rows).option("users", users).option("slices", cores)
        .option("rowsPerBatch", rowsPerBatch).load()
        .withColumn("ts", timestamp_micros(col("ts_us"))),
      "ts", "1 minute", Seq("event_id"))
    val delivered = w.op("drain", work = rows, record = false) {
      tracer.span("cdc.drain") {
        val q = CdcStream.deliverVersionedMerge(stream,
          if (w.traced) tracedChain else chain, table, ckpt,
          keyCols = Seq("key"), orderCols = Seq("commit_ts_us", "seq"),
          numBuckets = buckets)
        q.awaitTermination()
        q
      }
    }
    delivered.foreach { q =>
      // every micro-batch commits one version; the trailing no-data
      // batch (run so the dedup state sees the final watermark) is one
      val batches = q.recentProgress
      val nonEmpty = batches.filter(_.numInputRows > 0)
      nonEmpty.foreach(p =>
        w.sample("trigger", p.durationMs.get("triggerExecution").toDouble))
      val events = nonEmpty.map(_.numInputRows).sum
      w.check("changefeed.events", events == rows, s"delivered $events of $rows")
      val versions = table.currentVersion(spark)
      w.check("changefeed.versions",
        versions == batches.length && nonEmpty.length == triggers,
        s"$versions versions for ${batches.length} micro-batches, " +
          s"${nonEmpty.length} of them non-empty (want $triggers)")
      val got = checksum(table.read(spark))
      w.check("changefeed.checksum", got == expected,
        s"table checksum differs from the snapshot in ${got.diff(expected).length} buckets")
    }
    Workload.deleteTree(table.path)
    Workload.deleteTree(ckpt)
  }
}

/** A standing bucketed VersionedTable serving a seeded mix of lookups,
  * full-scan aggregates, change-data-feed reads of the newest version
  * and small bucketed merges. Every result is compared with a model of
  * the table kept by the benchmark. */
final class TableServe(ctx: Ctx) extends Workload {
  import ctx._

  val name = "table_serve"
  private val rng = new Random(seed)
  private val keys0 = 60000 + rng.nextInt(2000)
  private val salt = rng.nextInt(1000000).toLong
  private val buckets = 16
  private val lookupKeys = 8
  private val mergeKeys = 2000
  private val cycle =
    Seq.fill(4)("lookup") ++ Seq("scan", "cdf", "merge")

  def params: Map[String, Any] = Map("standing_keys" -> keys0,
    "buckets" -> buckets, "lookup_keys" -> lookupKeys,
    "merge_keys" -> mergeKeys, "op_cycle" -> cycle)

  private val schema = StructType(Seq(StructField("key", LongType),
    StructField("value", LongType), StructField("ver", LongType),
    StructField("op", StringType)))

  private var table: VersionedTable = _
  private val model = mutable.LongMap.empty[(Long, Long)] // key -> (value, ver)
  private val everKeys = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  private var ver = 0L
  // expected change feed of the newest version: (key, change type, value, ver)
  private var lastChanges = Set.empty[(Long, String, Long, Long)]
  private var pending = List.empty[String]

  private def value(key: Long, v: Long): Long =
    ((key * 2654435761L + v * 97L + salt) & 0x7fffffffL) % 1000003L

  /** [[value]] as a column, for the bootstrap generated in the executors. */
  private def valueCol(key: org.apache.spark.sql.Column, v: Long) =
    (key * 2654435761L + (v * 97L + salt)).bitwiseAND(0x7fffffffL) % 1000003L

  private def merge(batch: Seq[(Long, String)], generated: Option[DataFrame] = None): Unit = {
    ver += 1
    val df = generated.getOrElse {
      val rows = batch.map { case (k, op) => Row(k, value(k, ver), ver, op) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
    }
    tracer.span("sinks.merge") {
      table.mergeBucketed(df, Seq("key"), Seq("ver"), "op", buckets)
    }
    lastChanges = batch.flatMap { case (k, op) =>
      (op, model.get(k)) match {
        case (ChangeEvent.Delete, Some((v0, r0))) => Some((k, "delete", v0, r0))
        case (ChangeEvent.Delete, None) => None
        case (_, None) => Some((k, "insert", value(k, ver), ver))
        case (_, Some(_)) => Some((k, "update_postimage", value(k, ver), ver))
      }
    }.toSet
    batch.foreach {
      case (k, ChangeEvent.Delete) => model.remove(k)
      case (k, _) => model(k) = (value(k, ver), ver)
    }
  }

  def stage(d: String): Unit = {
    table = VersionedTable(s"$d/table")
    model.clear(); everKeys.clear(); ver = 0L
    nextKey = keys0.toLong
    everKeys ++= (0L until keys0.toLong)
    val boot = spark.range(0L, keys0.toLong, 1L, cores).select(col("id").as("key"),
      valueCol(col("id"), 1L).as("value"), lit(1L).as("ver"),
      lit(ChangeEvent.Insert).as("op"))
    merge((0L until keys0.toLong).map(k => (k, ChangeEvent.Insert)), Some(boot))
  }

  private def mergeBatch(): Seq[(Long, String)] = {
    val picked = mutable.LinkedHashMap.empty[Long, String]
    while (picked.size < mergeKeys) {
      val r = rng.nextDouble()
      if (r < 0.7) picked(everKeys(rng.nextInt(everKeys.length))) = ChangeEvent.Update
      else if (r < 0.8) picked(everKeys(rng.nextInt(everKeys.length))) = ChangeEvent.Delete
      else { picked(nextKey) = ChangeEvent.Insert; everKeys += nextKey; nextKey += 1 }
    }
    picked.toSeq
  }

  override def atBoundary: Boolean = pending.isEmpty
  def warmupOps: Int = 2 * cycle.length

  def runOne(w: Window): Unit = {
    if (pending.isEmpty) pending = rng.shuffle(cycle).toList
    val op = pending.head
    pending = pending.tail
    op match {
      case "lookup" =>
        val keys = Seq.fill(lookupKeys - 1)(everKeys(rng.nextInt(everKeys.length))) :+
          (nextKey + 1000000L + rng.nextInt(1000)) // never written
        w.op("lookup") {
          tracer.span("sinks.lookup") {
            table.lookup(spark, Seq("key"), keys.map(k => Seq(k)), buckets)
              .select("key", "value", "ver").collect()
          }
        }.foreach { rows =>
          val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          val want = keys.flatMap(k => model.get(k).map { case (v, r) => (k, v, r) }).toSet
          w.check("table.lookup", got == want && rows.length == want.size,
            s"lookup of ${keys.mkString(",")}: got ${got.size} rows, want ${want.size}")
        }
      case "scan" =>
        w.op("scan") {
          tracer.span("sinks.scan") {
            table.read(spark).agg(count(lit(1)), sum("value"), sum("ver"), sum("key")).head()
          }
        }.foreach { r =>
          val want = (model.size.toLong, model.values.map(_._1).sum,
            model.values.map(_._2).sum, model.keys.sum)
          val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          w.check("table.scan", got == want, s"scan aggregate $got, model $want")
        }
      case "cdf" =>
        w.op("cdf") {
          tracer.span("sinks.cdf") {
            val v = table.currentVersion(spark)
            table.changes(spark, v - 1, v, Seq("key"))
              .select("key", "_change_type", "value", "ver").collect()
          }
        }.foreach { rows =>
          val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
          w.check("table.cdf", got == lastChanges && rows.length == got.size,
            s"change feed has ${rows.length} rows, model ${lastChanges.size}")
        }
      case "merge" =>
        val batch = mergeBatch()
        w.op("merge")(merge(batch)).foreach { _ =>
          val v = table.currentVersion(spark)
          w.check("table.merge", v == ver, s"table at version $v, expected $ver")
        }
    }
  }
}

/** A batch GenDocsSource corpus with 25% planted exact duplicates,
  * staged once as parquet, then exact dedup, MinHash near-dup pairs and
  * connected-component clusters over it. One operation is one pass of
  * all three. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx._

  val name = "corpus_dedup"
  private val rng = new Random(seed)
  private val docs = 4L * (1000 + rng.nextInt(25))
  private val threshold = 0.9

  def warmupOps: Int = 5

  def params: Map[String, Any] = Map("docs" -> docs, "threshold" -> threshold,
    "planted_exact_pairs" -> docs / 4)

  private var corpus: DataFrame = _

  def stage(d: String): Unit = {
    val path = s"$d/corpus"
    spark.read.format("graft.sources.GenDocsSource")
      .option("docs", docs).option("slices", cores).load()
      .write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
  }

  def runOne(w: Window): Unit = {
    w.op("pass", work = docs) {
      val exact = tracer.span("operators.exact") {
        Dedup.exact(corpus, "doc_id", "text")
          .agg(count(lit(1)), sum("n_copies")).head()
      }
      val pairs = tracer.span("operators.neardup") {
        MinHash.neardupPairs(corpus, "doc_id", "text", threshold).localCheckpoint()
      }
      val labels = tracer.span("operators.clusters")(Dedup.clusters(pairs))
      (exact, pairs, labels)
    }.foreach { case (exact, pairs, labels) =>
      w.check("dedup.exact", exact.getLong(0) == docs / 4 * 3 && exact.getLong(1) == docs,
        s"exact kept ${exact.getLong(0)} of $docs docs (want ${docs / 4 * 3})")
      val planted = pairs.where(col("id_b") === col("id_a") + 3 &&
        pmod(col("id_a"), lit(4L)) === 0 && col("jaccard") === 1.0).count()
      w.check("dedup.neardup", planted == docs / 4,
        s"near-dup pairs hold $planted of ${docs / 4} planted pairs")
      val joined = labels.where(pmod(col("doc_id"), lit(4L)) === 3 &&
        col("cluster_id") <= col("doc_id") - 3).count()
      w.check("dedup.clusters", joined == docs / 4,
        s"$joined of ${docs / 4} planted copies share their original's cluster")
    }
  }
}
