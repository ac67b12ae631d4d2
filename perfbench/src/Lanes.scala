package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

import graft.etl.{Dimensions, FactBuilder, Normalize}
import graft.queries.{Dashboard, WalmartStar}
import graft.streaming.StreamingFact

/** Sorted sample with the percentiles the report uses. */
final case class Sample(xs: Seq[Double]) {
  private val s = xs.sorted
  def n: Int = s.size
  def q(p: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median: Double = q(0.5)
}

object Sample {
  def median(xs: Seq[Double]): Double = Sample(xs).median

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** The walmart dimensions the fact build joins against. */
final case class Dims(customer: DataFrame, product: DataFrame,
    store: DataFrame, supplier: DataFrame, date: DataFrame)

/** Per-batch progress of one streaming query, with each input file's
  * commit time.
  */
final case class StreamLog(progress: Seq[StreamingQueryProgress],
    fileBatch: Map[String, Long]) {
  /** Epoch ms at which each batch ended (its rows became queryable). */
  lazy val batchEnd: Map[Long, Long] = progress.map { p =>
    p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).longValue)
  }.toMap

  def fileCommitMs(name: String): Option[Long] =
    fileBatch.get(name).flatMap(batchEnd.get)

  def rows: Long = progress.map(_.numInputRows).sum

  def phaseMs(k: String): Seq[Double] =
    progress.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
}

object StreamLog {
  private val Entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r

  /** File name -> batch id, from the file source's metadata log. */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = new File(s"$checkpoint/sources/0")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith("."))
    files.flatMap { f =>
      Files.readAllLines(f.toPath).asScala.flatMap(l =>
        Entry.findFirstMatchIn(l).map(m =>
          m.group(1).split('/').last -> m.group(2).toLong))
    }.toMap
  }

  def of(q: StreamingQuery, checkpoint: String): StreamLog =
    StreamLog(q.recentProgress.toSeq, fileBatches(checkpoint))
}

/** The ingest lanes: the streaming fact build over walmart-shaped CSVs. */
object Ingest {
  /** The transaction CSV header, every field read as text (F1-F6 do the
    * typing).
    */
  val TxSchema: StructType = StructType(
    Seq("orderID", "Customer_ID", "Product_ID", "quantity", "date")
      .map(StructField(_, StringType)))

  def dims(spark: SparkSession, walmart: String): Dims = {
    val cm = Dimensions.readMasterCsv(spark, s"$walmart/customer_master_data.csv")
    val pm = Dimensions.readMasterCsv(spark, s"$walmart/product_master_data.csv")
    val days = spark.range(0, 4 * 366)
      .select(date_add(lit("2017-01-01").cast("date"), col("id").cast("int"))
        .as("d"))
    val d = Trace.span("etl", "Dimensions") {
      Dims(
        Trace.span("etl", "customerDim")(Dimensions.customerDim(cm).cache()),
        Trace.span("etl", "productDim")(Dimensions.productDim(pm).cache()),
        Trace.span("etl", "storeDim")(Dimensions.storeDim(pm).cache()),
        Trace.span("etl", "supplierDim")(Dimensions.supplierDim(pm).cache()),
        Trace.span("etl", "dateDim")(Dimensions.dateDim(days, "d").cache()))
    }
    Seq(d.customer, d.product, d.store, d.supplier, d.date).foreach(_.count())
    d
  }

  def readTx(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("header", "true").schema(TxSchema).csv(paths: _*)

  /** The reference fact: batch Normalize + FactBuilder over the same files. */
  def referenceFact(spark: SparkSession, d: Dims, paths: Seq[String]): DataFrame =
    FactBuilder.buildFact(Normalize.normalizeTransactions(readTx(spark, paths)),
      d.customer, d.product)

  /** Order-insensitive fingerprint: row count and the sum of row hashes. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = Seq("order_id", "customer_id", "product_id", "date_id",
      "store_id", "supplier_id", "quantity", "sales_amount").map(col)
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The batch reference over `paths`: its fingerprint and the exact
    * pipeline counts (rows in, invalid and referential drops, product
    * default fills, fact rows).
    */
  def reference(spark: SparkSession, d: Dims,
      paths: Seq[String]): ((Long, java.math.BigDecimal), Map[String, Long]) = {
    val raw = readTx(spark, paths)
    val norm = Normalize.normalizeTransactions(raw).cache()
    val fact = FactBuilder.buildFact(norm, d.customer, d.product)
    val rowsIn = raw.count()
    val nNorm = norm.count()
    val fp = fingerprint(fact)
    val defaults = fact.join(d.product.select("product_id"), Seq("product_id"),
      "left_anti").count()
    norm.unpersist()
    (fp, Map("rows_in" -> rowsIn, "drop_invalid" -> (rowsIn - nNorm),
      "drop_customer" -> (nNorm - fp._1), "product_default" -> defaults,
      "fact_rows" -> fp._1))
  }

  /** Drains every file under `src` with one runCsvToParquet. */
  def drain(spark: SparkSession, d: Dims, src: String, out: String,
      ckpt: String, maxFiles: Int): (Long, Long, StreamLog) = {
    val t0 = System.currentTimeMillis()
    val q = Trace.span("streaming", "runCsvToParquet", lap = true) {
      val q = StreamingFact.runCsvToParquet(spark, src, TxSchema, d.customer,
        d.product, out, ckpt, maxFilesPerTrigger = maxFiles)
      q.awaitTermination()
      q
    }
    (t0, System.currentTimeMillis(), StreamLog.of(q, ckpt))
  }

  /** StreamingFact.plan under a ProcessingTime trigger with the same
    * overwrite-by-batch-id parquet sink runCsvToParquet uses.
    */
  def startLive(spark: SparkSession, d: Dims, src: String, out: String,
      ckpt: String, triggerMs: Long, maxFiles: Int): StreamingQuery = {
    val raw = spark.readStream.schema(TxSchema).option("header", "true")
      .option("maxFilesPerTrigger", maxFiles).csv(src)
    StreamingFact.plan(raw, d.customer, d.product).writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Trace.span("streaming", "batch", lap = true) {
          Trace.span("etl", "sink_write") {
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
          }
        }
      }
      .start()
  }

  /** The six dashboard panels over the Sales parquet under `sales`. */
  def panels(spark: SparkSession, d: Dims, sales: String, year: Int): Seq[Laps.Query] = {
    def star() = WalmartStar(spark.read.parquet(sales), d.customer,
      d.product, d.store, d.supplier, d.date)
    Seq[(String, WalmartStar => DataFrame)](
      "top_products" -> (Dashboard.topProducts(_, year)),
      "demographics" -> (Dashboard.demographics(_, year)),
      "category_by_occupation" -> (Dashboard.categoryByOccupation(_, year)),
      "quarterly_trend" -> (Dashboard.quarterlyTrend(_, year)),
      "top_cities" -> (Dashboard.topCities(_, year)),
      "monthly_growth" -> (Dashboard.monthlyGrowth(_, year)))
      .map { case (name, f) => Laps.Query("queries", name, () => f(star())) }
  }

  /** ETL prefix timings on one fixed batch: read, +Normalize, +FactBuilder
    * through a noop sink, then +parquet write; each as a marginal, median
    * of `reps`.
    */
  def prefixTimings(spark: SparkSession, d: Dims, paths: Seq[String],
      tmp: String, reps: Int): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val laps = (1 to reps + 1).map { _ =>
      val read = time(Trace.span("etl", "csv_read")(noop(readTx(spark, paths))))
      val norm = time(Trace.span("etl", "normalize")(noop(
        Normalize.normalizeTransactions(readTx(spark, paths)))))
      def fact() = FactBuilder.buildFact(
        Normalize.normalizeTransactions(readTx(spark, paths)), d.customer, d.product)
      val join = time(Trace.span("etl", "fact_join")(noop(fact())))
      val sink = time(Trace.span("etl", "sink_write")(
        fact().write.mode("overwrite").parquet(tmp)))
      Seq(read, norm - read, join - norm, sink - join)
    }.drop(1)
    Seq("etl.csv_read_s", "etl.normalize_s", "etl.fact_join_s", "etl.sink_write_s")
      .zipWithIndex.map { case (k, i) => k -> Sample.median(laps.map(_(i))) }.toMap
  }

  def listCsv(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.endsWith(".csv")).sorted.toSeq

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Files.walk(Paths.get(path)).iterator().asScala.toSeq.reverse
        .foreach(p => p.toFile.delete())
    }
  }
}

/** Closed-loop query laps: each lap builds the query and collects its
  * result, as a client fetching it would.
  */
object Laps {
  final case class Query(layer: String, name: String, build: () => DataFrame)

  /** One lap; `rows` and `schema` hold the result when it was kept, else
    * null.
    */
  final case class Lap(name: String, secs: Double, ok: Boolean, error: String,
      rows: Seq[Row], schema: StructType)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def one(q: Query, keep: Boolean): Lap = {
    val t0 = System.nanoTime()
    try {
      val (rows, schema) = Trace.span("workload", q.name, lap = true) {
        val df = Trace.span(q.layer, "construct")(q.build())
        val rows = Trace.span("spark", "execute")(df.collect())
        Option(Trace.engine).foreach(_.addPhases(df.queryExecution))
        (rows, df.schema)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (keep) Lap(q.name, secs, ok = true, "", rows.toSeq, schema)
      else Lap(q.name, secs, ok = true, "", null, null)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Lap(q.name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString, null, null)
    }
  }

  /** Whole passes over `queries` until `seconds` have passed, and at
    * least `minPasses`. Each query's first lap keeps its result.
    */
  def loop(queries: Seq[Query], seconds: Double, minPasses: Int): Seq[Lap] = {
    val laps = ArrayBuffer[Lap]()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      queries.foreach(q => laps += one(q, keep = !laps.exists(_.name == q.name)))
      passes += 1
    }
    laps.toSeq
  }
}
