package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Api, Tables}
import graft.operators.{Mart, Rollup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.net.{URI, URLDecoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** One API reply; times are [[Tracer]] epoch microseconds, `dueUs` the
  * time the request was due to be sent.
  */
final case class Reply(route: String, path: String, dueUs: Long,
    sentUs: Long, doneUs: Long, status: Int, body: String)

/** Loopback HTTP reads against `graft.Api`, and the check of each reply
  * against a direct DataFrame read of the same store.
  */
final class ApiReads(spark: SparkSession, dir: String, martDir: String,
    cooldown: DataFrame, port: Int, clients: Int) {
  private val mapper = new ObjectMapper()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
  private val client = HttpClient.newBuilder().executor(pool).build()

  /** Blocking GET; `dueUs` is when the request was due to be sent. */
  def get(tracer: Tracer, route: String, path: String, dueUs: Long): Reply = {
    val sent = tracer.nowUs
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    Reply(route, path, dueUs, sent, tracer.nowUs, resp.statusCode(), resp.body())
  }

  def close(): Unit = pool.shutdownNow()

  private val expectedCache = new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()

  /** True when the reply is a success envelope whose data equals the
    * direct read. Rows of ohlc/metrics compare in order; mart rows and
    * cooldown anchors as multisets.
    */
  def correct(r: Reply): Boolean = r.status == 200 && {
    val got = mapper.readTree(r.body)
    got.path("code").asText() == Api.Code.Success && {
      val want = expectedCache.computeIfAbsent(r.path, p => expected(p))
      val data = got.get("data")
      if (r.route == "indicator" || r.route == "cooldown") multiset(data) == multiset(want)
      else data == want
    }
  }

  /** Compute the direct reads for these paths up front, `clients` at a
    * time.
    */
  def prefetch(paths: Seq[String]): Unit = {
    val tasks = paths.distinct.map(p => new java.util.concurrent.Callable[JsonNode] {
      def call(): JsonNode = expectedCache.computeIfAbsent(p, q => expected(q))
    })
    val checkers = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try checkers.invokeAll(tasks.asJava).asScala.foreach(_.get())
    finally checkers.shutdown()
  }

  /** Number of rows in a reply's data array. */
  def rowsOut(r: Reply): Int =
    scala.util.Try(mapper.readTree(r.body).path("data").size()).getOrElse(0)

  private def multiset(n: JsonNode): Seq[String] =
    n.elements().asScala.map(mapper.writeValueAsString).toSeq.sorted

  private def query(path: String): Map[String, String] = {
    val raw = URI.create(s"http://h$path").getRawQuery
    Option(raw).toSeq.flatMap(_.split("&")).map(_.split("=", 2)).collect {
      case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap
  }

  private def num(v: Any): String = v match {
    case null => "0"
    case d: java.math.BigDecimal => d.toPlainString
    case d: Double => if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case other => other.toString
  }

  private def tree(rows: Seq[java.util.Map[String, Object]]): JsonNode =
    mapper.readTree(mapper.writeValueAsString(rows.asJava))

  private def obj(kvs: (String, Object)*): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def expected(path: String): JsonNode = {
    val q = query(path)
    val limit = q.get("limit").map(_.toInt).getOrElse(100)
    def sym = Api.normalizeSymbol(q("symbol"))
    if (path.startsWith("/api/futures/ohlc/history")) {
      val iv = q.getOrElse("interval", "1h")
      val base = Tables.candles(spark, dir).filter(col("symbol") === sym)
      val framed = if (iv == "1m") base else Rollup.rollup(base, Api.ValidIntervals(iv))
      val rows = framed.orderBy(col("bucket_ts").desc).limit(limit)
        .select("bucket_ts", "open", "high", "low", "close", "volume", "quote_volume")
        .collect().reverse.toSeq
      tree(rows.map(r => obj("time" -> Long.box(r.getLong(0) * 1000L),
        "open" -> num(r.get(1)), "high" -> num(r.get(2)), "low" -> num(r.get(3)),
        "close" -> num(r.get(4)), "volume" -> num(r.get(5)),
        "volume_usd" -> num(r.get(6)))))
    } else if (path.startsWith("/api/futures/metrics")) {
      val rows = Tables.metrics5m(spark, dir).filter(col("symbol") === sym)
        .orderBy(col("create_time").desc).limit(limit)
        .select("symbol", "create_time", "sum_open_interest_value",
          "sum_toptrader_long_short_ratio", "sum_taker_long_short_vol_ratio")
        .collect().reverse.toSeq
      tree(rows.map(r => obj("time" -> Long.box(r.getLong(1) * 1000L),
        "symbol" -> r.getString(0), "openInterest" -> num(r.get(2)),
        "longShortRatio" -> num(r.get(3)), "takerLongShortRatio" -> num(r.get(4)))))
    } else if (path.startsWith("/api/indicator/data")) {
      val df = spark.read.parquet(s"$martDir/${Mart.tableDirName(q("table"))}")
        .filter(col("交易对") === sym)
      val cols = df.columns
      tree(df.limit(limit).collect().toSeq.map { r: Row =>
        obj(cols.zipWithIndex.map { case (c, i) =>
          c -> (r.get(i) match {
            case d: java.math.BigDecimal => d.toPlainString
            case v => v
          }).asInstanceOf[Object]
        }.toSeq: _*)
      })
    } else if (path.startsWith("/api/signal/cooldown")) {
      val rows = cooldown.groupBy(col("rule"), col("symbol"))
        .agg(max(col("bucket_ts")).as("ts")).collect().toSeq
      tree(rows.map { r =>
        val ms = Long.box(r.getLong(2) * 1000L)
        obj("key" -> s"${r.getString(0)}:${r.getString(1)}",
          "timestamp" -> ms, "expireTime" -> ms)
      })
    } else throw new IllegalArgumentException(s"no direct read for $path")
  }
}
