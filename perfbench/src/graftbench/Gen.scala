package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input tables for the text and catalog workloads, in the schemas
  * graft.Tables loads (`<dir>/<table>.parquet`). Every value derives from
  * (seed, row id) — the same seed writes the same bytes — and every
  * number is an exact multiple of 0.01 like the harness fixtures, so the
  * catalog's DECIMAL(18,2) oracle casts stay exact. */
object Gen {

  /** Hash-derived integer in [0, m) for row `id`, independent per salt. */
  private def u(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))

  private def pick(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, xs.length) + 1).cast("int"))

  private def cents(c: Column): Column = c.cast("double") / 100.0

  final case class Sizes(customers: Long, orders: Long, lineitems: Long,
                         parts: Long, events: Long, users: Long, docs: Int)

  /** Catalog tables at about 1/1000 of the harness sf1 row counts. */
  val catalogSizes = Sizes(customers = 150, orders = 1500, lineitems = 6000,
    parts = 200, events = 2000, users = 150, docs = 400)

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def catalogTables(spark: SparkSession, dir: String, seed: Long, z: Sizes): Unit = {
    write(spark.range(z.customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(seed, 1, 25).cast("int").as("c_nationkey"),
      cents(u(seed, 2, 1100000) - 100000).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), dir, "customer")
    write(spark.range(z.orders).select(
      col("id").as("o_orderkey"),
      u(seed, 11, z.customers).as("o_custkey"),
      pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      cents(u(seed, 13, 50000000)).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), u(seed, 14, 2400).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), dir, "orders")
    write(spark.range(z.lineitems).select(
      u(seed, 21, z.orders).as("l_orderkey"),
      u(seed, 22, z.parts).as("l_partkey"),
      u(seed, 23, 100).as("l_suppkey"),
      (u(seed, 24, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 25, 50) + 1).cast("double").as("l_quantity"),
      cents(u(seed, 26, 10000000) + 100).as("l_extendedprice"),
      cents(u(seed, 27, 11)).as("l_discount"),
      cents(u(seed, 28, 9)).as("l_tax"),
      pick(seed, 29, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 30, Seq("O", "F")).as("l_linestatus"),
      date_add(lit("1992-01-01").cast("date"), u(seed, 31, 2500).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")), dir, "lineitem")
    // one event every ~30 s from 2024-01-01 with sub-interval jitter, so
    // per-user sequences and 10-minute range windows both have content
    write(spark.range(z.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 30000000L +
        u(seed, 41, 30000000)).cast("timestamp_ntz").as("ts"),
      u(seed, 42, z.users).as("user_id"),
      pick(seed, 43, Seq("view", "click", "purchase", "signup", "error"))
        .as("event_type"),
      cents(u(seed, 44, 50000)).as("value"),
      format_string("{\"k\": %d}", u(seed, 45, 100)).as("props")), dir, "events")
    writeDocs(spark, dir, documents(seed, z.docs), copies = 1, seed)
  }

  // ------------------------------------------------------------ documents

  private val techWords = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "agg", "key", "query", "scan", "batch")
  private val stopwords = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "que", "pour", "dans"),
    "zh" -> Seq.empty[String])
  private val langs = stopwords.keys.toSeq.sorted

  final case class Doc(id: Long, text: String, lang: String)

  /** `n` documents of 8-80 words over a 28-word vocabulary plus each
    * language's stopwords. About 6% are near-duplicates of an earlier
    * original document (one appended token, Jaccard >= 0.7 at 3-word
    * shingles) and 1% exact copies of one. Copies are only ever taken of
    * originals, so every duplicate cluster is a star and the
    * label-propagation loop runs the same number of rounds for every
    * seed. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val out = new Array[Doc](n)
    val originals = scala.collection.mutable.ArrayBuffer[Doc]()
    for (i <- 0 until n) {
      val r = rng.nextDouble()
      out(i) =
        if (i > 10 && r < 0.01) originals(rng.nextInt(originals.length)).copy(id = i.toLong)
        else if (i > 10 && r < 0.07) {
          val src = originals(rng.nextInt(originals.length))
          src.copy(id = i.toLong, text = src.text + " dup")
        } else {
          val lang = langs(rng.nextInt(langs.length))
          val sw = stopwords(lang)
          val words = Seq.fill(8 + rng.nextInt(73)) {
            if (sw.nonEmpty && rng.nextDouble() < 0.2) sw(rng.nextInt(sw.length))
            else techWords(rng.nextInt(techWords.length))
          }
          val d = Doc(i.toLong, words.mkString(" "), lang)
          originals += d
          d
        }
    }
    out.toIndexedSeq
  }

  /** Letter bijection for corpus copy `i` (copy 0 is the identity): a
    * seeded shuffle of a-z. A bijection keeps set equality, so exact and
    * near duplicates replicate inside each copy while copies stay
    * dissimilar to each other — the scaled corpus grows dedup work
    * linearly, not quadratically. */
  def letterPerm(seed: Long, i: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz".toCharArray
    if (i > 0) {
      val rng = new java.util.SplittableRandom(seed * 31 + i)
      for (j <- a.length - 1 to 1 by -1) {
        val k = rng.nextInt(j + 1)
        val t = a(j); a(j) = a(k); a(k) = t
      }
    }
    new String(a)
  }

  /** Write `copies` letter-permuted replicas of `base` as the documents
    * table; copy i's ids are shifted by i * 10^7. */
  def writeDocs(spark: SparkSession, dir: String, base: IndexedSeq[Doc],
                copies: Int, seed: Long): Unit = {
    val rows = for (c <- 0 until copies; p = letterPerm(seed, c); d <- base) yield {
      val text = d.text.map(ch => if (ch >= 'a' && ch <= 'z') p(ch - 'a') else ch)
      (d.id + c * 10000000L, text, d.lang, s"src${d.id % 20}", text.length.toLong)
    }
    write(spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars"),
      dir, "documents")
  }
}
