package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Transport-agnostic ILP batch apply: protocol lines → driver-side parse
  * → per-measurement dynamic-schema local relation → staged WAL-style
  * batch apply into `ilpDir/<measurement>` → queryable view refresh.
  *
  * The lines are already on the driver (an HTTP body, a UDP buffer), so
  * they are parsed there once; each measurement's schema, its in-batch
  * DEDUP survivors and the days it touches are known before Spark runs.
  * What is left for Spark is the write itself: one job per measurement,
  * plus a read of the touched days when an upsert meets existing rows,
  * plus the view's schema read.
  *
  * The reference funnels all three line-protocol transports into one
  * writer path (`cutlass/line/tcp/LineTcpMeasurementScheduler.java:70` →
  * WAL append); this object is that shared tail, used by the HTTP
  * `/write` endpoint ([[graft.http.RestServer]]) and the UDP receiver
  * ([[IlpUdp]]).
  */
object IlpApply {
  import IlpParser.{Bool, F64, FieldValue, I64, Point, Str}

  /** Nanoseconds per unit of the trailing timestamp for an influx
    * `precision=` value ("ns" default — the wire number is nanos).
    */
  def precisionMult(p: String): Long = p match {
    case "ns" => 1L
    case "us" => 1000L
    case "ms" => 1000000L
    case "s"  => 1000000000L
    case other => throw new IllegalArgumentException(s"bad precision: $other")
  }

  /** Field value types in column order after the sorted tag keys. */
  private val fieldTypes: Seq[(DataType, PartialFunction[FieldValue, Any])] = Seq(
    DoubleType -> { case F64(v) => v },
    LongType -> { case I64(v) => v },
    StringType -> { case Str(v) => v },
    BooleanType -> { case Bool(v) => v })

  /** Parse + apply one batch of ILP lines. Returns rows ingested (parsed
    * lines, before DEDUP).
    *
    * @param nsPerUnit nanoseconds per unit of the trailing timestamp
    * @param dedupKeys non-empty → DEDUP UPSERT KEYS(ts, keys...): within
    *                  the batch the last line wins, across batches the
    *                  new row wins
    * @param seq       per-endpoint monotonic batch counter (idempotence id)
    */
  def applyLines(spark: SparkSession, lines: Seq[String], ilpDir: String,
                 nsPerUnit: Long, dedupKeys: Seq[String],
                 seq: AtomicLong): Long = {
    val points = lines.flatMap(IlpParser.parse)
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    val nowMicros = DateTimeUtils.instantToMicros(java.time.Instant.now()) // server-time rows
    points.groupBy(_.measurement).toSeq.sortBy(_._1).foreach { case (m, ps) =>
      val tableDir = s"$ilpDir/$m"
      val batchId = seq.incrementAndGet() * 1000000L + System.nanoTime() % 1000000L
      // tags, then typed fields, each sorted by key: every key observed
      // in the batch becomes a column (the reference adds table columns
      // the same lazily-on-ingest way)
      val tagCols = ps.flatMap(_.tags.keys).distinct.sorted
        .map(k => (k, StringType: DataType, (p: Point) => p.tags.getOrElse(k, null)))
      val fieldCols = fieldTypes.flatMap { case (t, value) =>
        ps.flatMap(_.fields.collect { case (k, v) if value.isDefinedAt(v) => k }).distinct.sorted
          .map(k => (k, t, (p: Point) => p.fields.get(k).collect(value).orNull))
      }
      val cols = tagCols ++ fieldCols
      val schema = StructType(cols.map { case (k, t, _) => StructField(k, t) } ++ Seq(
        StructField("ts", TimestampType, nullable = false),
        StructField("ts_ns", LongType, nullable = false),
        StructField("__day", DateType, nullable = false)))
      val keyIdx = dedupKeys.map { k =>
        val i = cols.indexWhere(_._1 == k)
        require(i >= 0, s"DEDUP key $k is not a column of $m")
        i
      }
      val rows = ps.map { p =>
        val ns = p.tsNanos.filter(_ >= 0).map(_ * nsPerUnit)
        val micros = ns.fold(nowMicros)(Math.floorDiv(_, 1000L))
        val at = DateTimeUtils.microsToInstant(micros)
        Row.fromSeq(cols.map(_._3(p)) ++ Seq(at, ns.getOrElse(micros * 1000L), at.atZone(zone).toLocalDate))
      }
      if (dedupKeys.isEmpty)
        Ingest.append(spark.createDataFrame(rows.asJava, schema).coalesce(1), batchId, tableDir, "ts")
      else {
        val tsIdx = cols.size
        val last = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
        rows.foreach(r => last(Ingest.rowKey(r, tsIdx, keyIdx)) = r)
        Ingest.upsert(spark.createDataFrame(last.values.toSeq.asJava, schema), last.keySet.toSet,
          last.values.map(_.get(tsIdx + 2).toString).toSeq.distinct, batchId, tableDir, "ts", dedupKeys)
      }
      spark.read.parquet(tableDir).drop("__day").createOrReplaceTempView(m)
    }
    points.size.toLong
  }
}
