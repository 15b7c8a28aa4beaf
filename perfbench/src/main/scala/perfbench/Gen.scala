package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded word corpus for the MapReduce kernel. Every document is a
  * pure function of (seed, docId), so the corpus is the same whatever
  * the partitioning or the number of cores. */
object Corpus {
  sealed abstract class Dist(val name: String, val vocab: Int)
  /** Zipf (s = 1) over ~1k words: heavy key repetition, the case a
    * map-side combiner shrinks. */
  case object Zipf extends Dist("zipf", 1000)
  /** Near-uniform over ~1M words: almost every key is rare, so a
    * combiner has nothing to fold. */
  case object Uniform extends Dist("uniform", 1000000)

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Zipf.vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def word(dist: Dist, rnd: java.util.SplittableRandom): String = dist match {
    case Zipf =>
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      "z" + (if (i >= 0) i else math.min(-i - 1, Zipf.vocab - 1))
    case Uniform => "u" + rnd.nextInt(Uniform.vocab)
  }

  def text(seed: Long, dist: Dist, docId: Long, words: Int): String = {
    val rnd = new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (docId * 0xC2B2AE3D27D4EB4FL) ^ dist.vocab)
    Iterator.fill(words)(word(dist, rnd)).mkString(" ")
  }

  def docs(spark: SparkSession, seed: Long, dist: Dist, nDocs: Int,
           words: Int, partitions: Int): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.range(0L, nDocs.toLong, 1L, partitions).as[Long]
      .map(id => (id, text(seed, dist, id, words)))
  }
}

/** A small star-schema plus events and documents fixture with the
  * table names, column names and types the engine's query modules
  * read. The data is a fixed function of the row ids (no seed): the
  * pinned result hashes in `pins.tsv` are computed over it. */
object Fixture {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")

  private val Words = Seq("query", "row", "stream", "the", "part", "column",
    "order", "scan", "a", "slow", "agg", "key", "window", "table", "merge",
    "vector", "join", "spark", "line", "small", "fast", "group", "customer",
    "batch", "sort", "value", "hash", "filter", "big", "data", "dup")

  private def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")
  private def pick(xs: Seq[String], salt: String) =
    s"element_at(${arr(xs)}, CAST(pmod(xxhash64(id, '$salt'), ${xs.size}) AS INT) + 1)"
  private def rnd(n: Long, salt: String) = s"pmod(xxhash64(id, '$salt'), $n)"
  private def money(lo: Long, hi: Long, salt: String) =
    s"CAST(${rnd(hi - lo + 1, salt)} + $lo AS DOUBLE) / 100.0"
  private def day(from: String, days: Int, salt: String) =
    s"CAST(date_add(DATE'$from', CAST(${rnd(days, salt)} AS INT)) AS TIMESTAMP_NTZ)"

  /** Row counts at scale factor `sf` (sf 1 = 6M line items). */
  def rows(sf: Double): Map[String, Long] = {
    def n(x: Double) = math.max(1L, math.round(x * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)))
  }

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val r = rows(sf)
    val users = math.max(1L, r("events") / 1000 * 15)
    val evSpanUs = 30L * 86400L * 1000000L
    val sql: Map[String, Seq[String]] = Map(
      "region" -> Seq("CAST(id AS INT) AS r_regionkey",
        s"${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}[CAST(id AS INT)] AS r_name"),
      "nation" -> Seq("CAST(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
        "CAST(id % 5 AS INT) AS n_regionkey"),
      "customer" -> Seq("id AS c_custkey", "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
        s"CAST(${rnd(25, "cn")} AS INT) AS c_nationkey", s"${money(-99999, 999999, "cb")} AS c_acctbal",
        s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), "cm")} AS c_mktsegment"),
      "supplier" -> Seq("id AS s_suppkey", "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
        s"CAST(${rnd(25, "sn")} AS INT) AS s_nationkey", s"${money(-99999, 999999, "sb")} AS s_acctbal"),
      "part" -> Seq("id AS p_partkey",
        s"concat(${pick(Seq("blue", "old", "large", "hot", "cold", "red", "small", "new"), "pa")}, ' ', " +
          s"${pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"), "pb")}) AS p_name",
        s"concat('Brand#', ${rnd(25, "pr")} + 1) AS p_brand",
        s"${pick(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), "pt")} AS p_type",
        s"CAST(${rnd(50, "ps")} + 1 AS INT) AS p_size", "900.0 + CAST(id % 1000 AS DOUBLE) / 10.0 AS p_retailprice"),
      "orders" -> Seq("id AS o_orderkey", s"${rnd(r("customer"), "oc")} AS o_custkey",
        s"${pick(Seq("O", "P", "F"), "os")} AS o_orderstatus", s"${money(100000, 50000000, "ot")} AS o_totalprice",
        s"${day("1995-01-01", 2404, "od")} AS o_orderdate",
        s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "op")} AS o_orderpriority"),
      "lineitem" -> Seq(s"${rnd(r("orders"), "lo")} AS l_orderkey", s"${rnd(r("part"), "lp")} AS l_partkey",
        s"${rnd(r("supplier"), "ls")} AS l_suppkey", s"CAST(${rnd(7, "ln")} + 1 AS INT) AS l_linenumber",
        s"CAST(${rnd(50, "lq")} + 1 AS DOUBLE) AS l_quantity", s"${money(90000, 10500000, "le")} AS l_extendedprice",
        s"CAST(${rnd(11, "ld")} AS DOUBLE) / 100.0 AS l_discount", s"CAST(${rnd(9, "lt")} AS DOUBLE) / 100.0 AS l_tax",
        s"${pick(Seq("A", "N", "R"), "lr")} AS l_returnflag", s"${pick(Seq("O", "F"), "ll")} AS l_linestatus",
        s"${day("1995-01-02", 2498, "lsd")} AS l_shipdate"),
      "events" -> Seq("id AS event_id",
        s"CAST(timestamp_micros(1704067200000000 + id * ${evSpanUs / r("events")} + " +
          s"${rnd(evSpanUs / r("events"), "et")}) AS TIMESTAMP_NTZ) AS ts",
        s"${rnd(users, "eu")} AS user_id",
        s"${pick(Seq("click", "error", "purchase", "signup", "view"), "ey")} AS event_type",
        s"round(-50.0 * ln((CAST(${rnd(1000000, "ev")} AS DOUBLE) + 1.0) / 1000001.0), 2) AS value",
        s"concat('{\"k\": ', ${rnd(100, "ek")}, '}') AS props"),
      "documents" -> Seq("id AS doc_id",
        s"concat_ws(' ', transform(sequence(1, CAST(${rnd(91, "dn")} + 10 AS INT)), " +
          s"i -> ${arr(Words)}[CAST(pmod(xxhash64(id, i, 'dw'), ${Words.size}) AS INT)])) AS text",
        s"${pick(Seq("en", "en", "en", "en", "es", "fr", "de", "zh"), "dl")} AS lang",
        s"concat('src', ${rnd(20, "ds")}) AS source")
    )
    for (t <- Tables) {
      // The three big tables get several files so scans split across
      // cores; the count is fixed, so the files are the same on any host.
      val files = if (Seq("lineitem", "orders", "events").contains(t)) 8 else 1
      val df = spark.range(0L, r(t), 1L, files).selectExpr(sql(t): _*)
      val out = if (t == "documents") df.selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars") else df
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }
}
