package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.WordlistSearch
import graft.operators.WordlistSearch.ChunkRange

/** Seeded input generators. The same seed gives byte-identical inputs.
  *
  * The tables mirror the schema and value domains of the engine's
  * parquet test tables (FIXTURES.md §B): a TPC-H-like star schema plus
  * `events`, `documents` (with a share of " dup"-suffixed near copies)
  * and unit-norm `embeddings`. Row counts follow the same scale-factor
  * rule, so `sf` means what it means there. Each table is one parquet
  * file, as in the test data.
  */
object Data {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  private val vocab = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line data table agg value key stream window a spark part group big " +
    "sort query fast the").split(" ")
  private val langs = Array("en", "en", "en", "fr", "es", "zh", "de")
  private val adjectives = Array("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val nouns = Array("ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod")
  private val partTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val segments = Array("AUTOMOBILE", "MACHINERY", "FURNITURE", "BUILDING", "HOUSEHOLD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "signup", "error", "view", "purchase")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  /** Write all ten tables under `dir` (one `<name>.parquet` each). */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Int) = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nDocs = math.max(500, n(50000)); val nVecs = math.max(500, n(20000))
    val nUsers = math.max(15, nCust / 10)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rng(seed, 1)
      write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), segments(r.nextInt(segments.length))))) }
    { val r = rng(seed, 2)
      write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99)))) }
    { val r = rng(seed, 3)
      write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until nPart).map(i => Row(i.toLong,
          adjectives(r.nextInt(8)) + " " + nouns(r.nextInt(8)), s"Brand#${1 + r.nextInt(25)}",
          partTypes(r.nextInt(partTypes.length)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))) }
    { val r = rng(seed, 4)
      write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          "FOP".charAt(r.nextInt(3)).toString, money(r, 1000, 500000),
          day(r, LocalDate.of(1995, 1, 1), 2404), priorities(r.nextInt(5))))) }
    { val r = rng(seed, 5)
      write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until nLines).map(_ => Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
          day(r, LocalDate.of(1995, 1, 2), 2498)))) }
    { val r = rng(seed, 6)
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val offsets = Array.fill(nEvents)((r.nextDouble() * 30 * 86400e6).toLong).sorted
      write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        offsets.toSeq.zipWithIndex.map { case (us, i) => Row(i.toLong, t0.plusNanos(us * 1000),
          r.nextInt(nUsers).toLong, eventTypes(r.nextInt(5)),
          math.max(0.01, math.min(490.0, math.round(math.exp(2.5 + r.nextGaussian()) * 100) / 100.0)),
          s"""{"k": ${r.nextInt(100)}}""") }) }
    { val r = rng(seed, 7)
      val texts = new Array[String](nDocs)
      for (i <- 0 until nDocs) texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
      write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        texts.toSeq.zipWithIndex.map { case (t, i) =>
          Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong) }) }
    { val r = rng(seed, 8)
      write("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        (0 until nVecs).map { i =>
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        }) }
  }

  /** The reference's six-chunk layout (`chunksinfo.txt`): low and high
    * sentinels, and overlapping boundary characters b, f, k, p and t,
    * each of which prunes to two chunks.
    */
  val ranges: Seq[ChunkRange] = WordlistSearch.parseChunkInfo(
    Seq("1=\u0004b", "2=bf", "3=fk", "4=kp", "5=pt", "6=t\uFFFD"))

  /** First characters of generated words: digits and every lowercase
    * letter, so every chunk and every boundary character is populated.
    */
  private val firstChars = "0123456789abcdefghijklmnopqrstuvwxyz"
  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** A seeded wordlist and its probe stream. `words` are distinct and
    * lowercase; `probes` pairs each probe with its true verdict.
    */
  final case class Wordlist(words: Array[String], probes: Seq[(String, Boolean)])

  /** `nWords` words of 6 to 12 characters, and 36 probes: a hit and a
    * miss for each of 18 first characters, which are the five boundary
    * characters and 13 others drawn by the seed. Every second miss on a
    * letter is the capitalized form of a present word (pruning lowercases
    * the probe, the row filter does not); the others are absent words.
    */
  def wordlist(nWords: Int, seed: Long): Wordlist = {
    val r = rng(seed, 9)
    val set = mutable.LinkedHashSet.empty[String]
    def word(first: Char, len: Int): String = {
      val sb = new StringBuilder(len)
      sb += first
      while (sb.length < len) sb += letters.charAt(r.nextInt(letters.length))
      sb.result()
    }
    while (set.size < nWords)
      set += word(firstChars.charAt(r.nextInt(firstChars.length)), 6 + r.nextInt(7))
    val words = set.toArray
    val byFirst = words.groupBy(_.charAt(0))
    val others = firstChars.filterNot("bfkpt".contains(_)).toArray
    for (i <- others.indices.reverse) { // seeded Fisher-Yates
      val j = r.nextInt(i + 1)
      val t = others(i); others(i) = others(j); others(j) = t
    }
    // Hit i is the word at fraction (i + 0.5) / 18 of the words sharing
    // its first character, so hits sit at spread-out depths of their
    // chunk file (a hit's scan stops at it) whatever the seed.
    val chars = "bfkpt".toSeq ++ others.take(13)
    val probes = chars.zipWithIndex.flatMap { case (c, i) =>
      val same = byFirst(c)
      val present = same(((i + 0.5) / chars.size * same.length).toInt)
      val absent =
        if (i % 2 == 0 && c.isLetter) present.capitalize
        else Iterator.continually(word(c, present.length)).dropWhile(set.contains(_)).next()
      Seq(present -> true, absent -> false)
    }
    Wordlist(words, probes)
  }

  def writeWordlist(wl: Wordlist, base: String): Unit =
    WordlistSearch.writeBucketed(wl.words.toSeq, ranges, base)
}
