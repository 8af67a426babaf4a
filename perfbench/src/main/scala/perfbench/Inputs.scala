package perfbench

import graft.sim.Simgen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.io.File

/** Seeded input generation. Every value is a hash of (seed, salt, row),
  * so one seed always yields byte-identical inputs and another seed
  * yields other ids, values, timestamps and query terms of the same
  * shape and size. */
final class Inputs(spark: SparkSession, val seed: Long) {

  /** Deterministic 64-bit hash of the row for one purpose (`salt`). */
  private def h(salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [lo, hi]. */
  private def uni(salt: String, lo: Long, hi: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(hi - lo + 1)) + lit(lo)

  private def pick(salt: String, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (pmod(h(salt, cols: _*), lit(values.size.toLong)) + 1).cast("int"))

  private def money(salt: String, lo: Double, hi: Double, cols: Column*): Column =
    (uni(salt, (lo * 100).toLong, (hi * 100).toLong, cols: _*) / 100.0).cast("double")

  private val day0 = 694224000L // 1992-01-01 UTC
  private def date(salt: String, days: Long, cols: Column*): Column =
    timestamp_seconds(lit(day0) + uni(salt, 0, days, cols: _*) * 86400L)

  /** A small seeded number in [0, n): picks id windows and similar. */
  def small(salt: String, n: Int): Int =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"$seed|$salt"), n)

  // ------------------------------------------------------------------
  // TPC-H-shaped namespaces (schemas of the sf fixtures)
  // ------------------------------------------------------------------

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val colors = Seq("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon")
  private val types = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val finishes = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val metals = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  /** The five namespaces at scale factor `sf` (TPC-H row counts). `lineitem`
    * carries an ObjectId-shaped `_id` like every MongoDB collection. */
  def tpch(sf: Double): Map[String, DataFrame] = {
    val nCust = math.max(10L, (150000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nPart = math.max(10L, (200000 * sf).toLong)
    val nOrd = math.max(10L, (1500000 * sf).toLong)
    val id = col("id")
    val k = id + 1
    val customer = spark.range(nCust).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      uni("c_nat", 0, 24, k).cast("int").as("c_nationkey"),
      money("c_bal", -999.99, 9999.99, k).as("c_acctbal"),
      pick("c_seg", segments, k).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(
      k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      uni("s_nat", 0, 24, k).cast("int").as("s_nationkey"),
      money("s_bal", -999.99, 9999.99, k).as("s_acctbal"))
    val part = spark.range(nPart).select(
      k.as("p_partkey"),
      concat_ws(" ", pick("p_n1", colors, k), pick("p_n2", colors, k),
        pick("p_n3", colors, k)).as("p_name"),
      format_string("Brand#%d%d", uni("p_b1", 1, 5, k), uni("p_b2", 1, 5, k)).as("p_brand"),
      concat_ws(" ", pick("p_t1", types, k), pick("p_t2", finishes, k),
        pick("p_t3", metals, k)).as("p_type"),
      uni("p_size", 1, 50, k).cast("int").as("p_size"),
      money("p_price", 900.0, 2100.0, k).as("p_retailprice"))
    val orders = spark.range(nOrd).select(
      k.as("o_orderkey"),
      uni("o_cust", 1, nCust, k).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), k).as("o_orderstatus"),
      money("o_price", 850.0, 550000.0, k).as("o_totalprice"),
      date("o_date", 2400, k).as("o_orderdate"),
      pick("o_prio", priorities, k).as("o_orderpriority"))
    val lineitem = spark.range(nOrd)
      .select(k.as("ok"), explode(sequence(lit(1), uni("l_n", 1, 7, k).cast("int"))).as("ln"))
      .select(
        substring(md5(concat_ws("|", lit(seed), lit("l_id"), col("ok"), col("ln"))), 1, 24).as("_id"),
        col("ok").as("l_orderkey"),
        uni("l_part", 1, nPart, col("ok"), col("ln")).as("l_partkey"),
        uni("l_supp", 1, nSupp, col("ok"), col("ln")).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        uni("l_qty", 1, 50, col("ok"), col("ln")).cast("double").as("l_quantity"),
        money("l_ext", 900.0, 105000.0, col("ok"), col("ln")).as("l_extendedprice"),
        (uni("l_disc", 0, 10, col("ok"), col("ln")) / 100.0).as("l_discount"),
        (uni("l_tax", 0, 8, col("ok"), col("ln")) / 100.0).as("l_tax"),
        pick("l_rf", Seq("A", "N", "R"), col("ok"), col("ln")).as("l_returnflag"),
        pick("l_ls", Seq("F", "O"), col("ok"), col("ln")).as("l_linestatus"),
        date("l_ship", 2500, col("ok"), col("ln")).as("l_shipdate"))
    Map("customer" -> customer, "supplier" -> supplier, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem)
  }

  // ------------------------------------------------------------------
  // Doc-store namespace and change logs (Simgen)
  // ------------------------------------------------------------------

  /** Simgen documents `lo until lo + n` as (id, doc): `id` is the
    * canonical-JSON `_id` (quoted hex), the key the apply path uses. */
  def docs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(
      concat(lit("\""), Simgen.oid(col("id")), lit("\"")).as("id"),
      to_json(Simgen.docStruct(col("id"))).as("doc"))

  /** `Simgen.changeLog` restricted to the documents `lo until lo + n`:
    * the generator numbers documents from 0, so the log is generated for
    * `lo + n` documents and every op of a document below `lo` dropped.
    * Each op's document index is recoverable from its timestamp
    * (`t0 + phase·total + i`), which is what the filter reads. */
  def changeLog(ns: String, lo: Long, n: Long, t0: Long): DataFrame = {
    val total = lo + n
    Simgen.changeLog(spark, total, ns, t0)
      .filter(pmod(shiftright(col("ts"), 32) - lit(t0), lit(total)) >= lo)
  }

  // ------------------------------------------------------------------
  // Text corpus (the `documents` fixture's shape)
  // ------------------------------------------------------------------

  private val vocabSize = 3000

  /** Seeded word for vocabulary rank `r`. */
  private def word(r: Column): Column =
    concat(lit("t"), conv(pmod(xxhash64(lit(seed), lit("w"), r), lit(46656L)).cast("string"), 10, 36))

  /** Zipf-like rank: log-uniform over the vocabulary, so a few terms are
    * frequent and most are rare, as in natural text. */
  private def rank(salt: String, cols: Column*): Column =
    floor(exp(log(lit(vocabSize.toDouble)) *
      (pmod(h(salt, cols: _*), lit(1000000L)) / 1000000.0))).cast("long")

  /** Documents `lo until lo + n` with (doc_id, text, lang, source, n_chars),
    * 20–80 words each. */
  def corpus(lo: Long, n: Long): DataFrame = {
    val len = uni("d_len", 20, 80, col("id")).cast("int")
    spark.range(lo, lo + n)
      .select(col("id"), len.as("len"))
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1), col("len")),
          p => word(rank("d_w", col("id"), p))), " ").as("text"))
      .select(col("doc_id"), col("text"),
        pick("d_lang", Seq("en", "de", "fr"), col("doc_id")).as("lang"),
        pick("d_src", Seq("web", "book", "news"), col("doc_id")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** `n` queries of two or three corpus terms each, drawn from the same
    * rank distribution as the text. */
  def queries(n: Int): DataFrame =
    spark.range(n).select((col("id") + 1).as("qid"),
      array_join(transform(sequence(lit(1), uni("q_len", 2, 3, col("id")).cast("int")),
        p => word(rank("q_w", col("id"), p))), " ").as("q"))

  // ------------------------------------------------------------------
  // File publication
  // ------------------------------------------------------------------

  /** Write `df` as one parquet file per distinct `fileCol` value, then
    * move file `k` to `dir/<prefix>-<k>.parquet` with modification time
    * `mtimeBase + k` seconds, so a file-stream source lists them in `k`
    * order. `dir` itself is created empty first. Returns rows per file. */
  def writeFiles(df: DataFrame, fileCol: String, scratch: String, dir: String,
      prefix: String, mtimeBase: Long): Map[Int, Long] = {
    val staged = s"$scratch/$prefix-staged"
    val rows = df.groupBy(col(fileCol)).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    df.repartition(col(fileCol)).write.mode("overwrite").partitionBy(fileCol).parquet(staged)
    val out = new File(dir)
    out.mkdirs()
    new File(staged).listFiles().filter(_.getName.startsWith(s"$fileCol=")).foreach { d =>
      val k = d.getName.stripPrefix(s"$fileCol=").toInt
      val parts = d.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"expected one file for $fileCol=$k, found ${parts.length}")
      val target = new File(out, f"$prefix-$k%05d.parquet")
      require(parts.head.renameTo(target), s"could not move ${parts.head} to $target")
      target.setLastModified((mtimeBase + k) * 1000L)
    }
    Inputs.deleteTree(new File(staged))
    rows
  }

  /** Number every row of `df` in `order` and cut the sequence into
    * `files` consecutive ranges, as column `file`. */
  def cut(df: DataFrame, order: Column, files: Int): DataFrame = {
    val n = df.count()
    df.withColumn("__rn", row_number().over(Window.orderBy(order)) - 1)
      .withColumn("file", floor(col("__rn") * files / lit(n)).cast("int"))
      .drop("__rn")
  }
}

object Inputs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }
}
