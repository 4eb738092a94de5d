package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed (and size arguments): the same seed yields the same rows, and
  * each carries the planted ground truth its checker needs.
  */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Money-like value with two decimals, exact under DECIMAL casts. */
  def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** SHA-256 over the rows' string forms: the byte-identity witness. */
  def digest(rows: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val s = r match {
        case row: Row => row.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")
        case v => String.valueOf(v)
      }
      md.update(s.getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    val parts = math.max(1, math.min(4, rows.length / 20000))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path)
  }

  private val words: Array[String] = {
    val r = rng(7L, 1L)
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "pa", "qu", "do", "fe", "gi", "ha", "ju")
    // glue words first so quality heuristics see natural-ish text
    (Array("the", "and", "of", "to", "in") ++
      Array.fill(1995)(Array.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.length)))
        .mkString)).distinct
  }

  /** Zipf-ish word draw: low ranks are common. */
  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    words(math.min(words.length - 1, (math.pow(u, 2.2) * words.length).toInt))
  }

  def sentence(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(word(r)).mkString(" ")

  // ---------------------------------------------------------------- TPC-H

  val regionSchema = StructType(Seq(StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))
  val nationSchema = StructType(Seq(StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))
  val supplierSchema = StructType(Seq(StructField("s_suppkey", LongType),
    StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))
  val customerSchema = StructType(Seq(StructField("c_custkey", LongType),
    StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
  val partSchema = StructType(Seq(StructField("p_partkey", LongType),
    StructField("p_name", StringType), StructField("p_brand", StringType),
    StructField("p_type", StringType), StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))
  val ordersSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
  val lineitemSchema = StructType(Seq(StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))
  val eventsSchema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))
  val documentsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val embeddingsSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Array("click", "error", "purchase", "signup", "view")
  val langs = Array("de", "en", "es", "fr", "zh")
  private val day = 86400000L
  val ordersEpoch: Long = Timestamp.valueOf("1992-01-01 00:00:00").getTime
  val eventsEpoch: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** The analyst fixtures: the ten tables `Lake.attachFixtures` expects,
    * TPC-H-shaped, sized by `orders`.
    */
  final case class Fixtures(tables: Seq[(String, StructType, Seq[Row])]) {
    def rows(name: String): Seq[Row] = tables.find(_._1 == name).get._3
    def digest: String = Gen.digest(tables.iterator.flatMap(t =>
      Iterator.single(t._1) ++ t._3.iterator))
    def writeAll(spark: SparkSession, dir: String, threads: Int): Unit =
      Par.all(threads, tables.map { case (n, s, rs) =>
        () => write(spark, rs, s, s"$dir/$n.parquet") })
  }

  def fixtures(seed: Long, nOrders: Int): Fixtures = {
    val nCust = nOrders / 10
    val nPart = nOrders / 8
    val nSupp = math.max(10, nOrders / 150)
    val region = (0 until 5).map(i => Row(i, s"REGION$i"))
    val nation = (0 until 25).map(i => Row(i, s"NATION$i", i % 5))
    val rs = rng(seed, 11)
    val supplier = (1 to nSupp).map(i =>
      Row(i.toLong, f"Supplier#$i%05d", rs.nextInt(25), cents(rs, -999, 9999)))
    val rc = rng(seed, 12)
    val customer = (1 to nCust).map(i =>
      Row(i.toLong, f"Customer#$i%06d", rc.nextInt(25), cents(rc, -999, 9999),
        segments(rc.nextInt(segments.length))))
    val rp = rng(seed, 13)
    val part = (1 to nPart).map(i =>
      Row(i.toLong, s"part ${word(rp)} ${word(rp)}", s"Brand#${1 + rp.nextInt(5)}${1 + rp.nextInt(5)}",
        Seq("STANDARD", "SMALL", "MEDIUM", "LARGE")(rp.nextInt(4)) + " BRUSHED",
        1 + rp.nextInt(50), cents(rp, 900, 2000)))
    val ro = rng(seed, 14)
    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    (1 to nOrders).foreach { o =>
      val date = ordersEpoch + ro.nextInt(2400) * day
      val n = 1 + ro.nextInt(7)
      var total = 0.0
      (1 to n).foreach { ln =>
        val qty = (1 + ro.nextInt(50)).toDouble
        val price = cents(ro, 900, 2000) * qty
        total += price
        val ship = date + (1 + ro.nextInt(120)) * day
        val flag = if (ship < Timestamp.valueOf("1995-06-17 00:00:00").getTime)
          Seq("R", "A")(ro.nextInt(2)) else "N"
        lines += Row(o.toLong, 1L + ro.nextInt(nPart), 1L + ro.nextInt(nSupp), ln,
          qty, math.round(price * 100) / 100.0, ro.nextInt(11) / 100.0,
          ro.nextInt(9) / 100.0, flag, if (flag == "N") "O" else "F",
          new Timestamp(ship))
      }
      orders += Row(o.toLong, 1L + ro.nextInt(nCust), Seq("F", "O", "P")(ro.nextInt(3)),
        math.round(total * 100) / 100.0, new Timestamp(date),
        priorities(ro.nextInt(priorities.length)))
    }
    val re = rng(seed, 15)
    val events = (1 to nOrders / 2).map(i =>
      Row(i.toLong, new Timestamp(eventsEpoch + (re.nextDouble() * 30 * day).toLong),
        1L + re.nextInt(nCust), eventTypes(re.nextInt(eventTypes.length)),
        cents(re, 0, 500), s"""{"k": ${re.nextInt(100)}}"""))
    val docs = corpus(seed, 0, 300)
    Fixtures(Seq(
      ("region", regionSchema, region), ("nation", nationSchema, nation),
      ("supplier", supplierSchema, supplier), ("customer", customerSchema, customer),
      ("part", partSchema, part), ("orders", ordersSchema, orders.result()),
      ("lineitem", lineitemSchema, lines.result()), ("events", eventsSchema, events),
      ("documents", documentsSchema, docs.docs), ("embeddings", embeddingsSchema, docs.vecs)))
  }

  // --------------------------------------------------------------- corpus

  /** One landed corpus batch with its planted truth.
    * @param dupPairs   (original, near-duplicate) doc ids
    * @param contaminated doc ids that copy a passage of a benchmark doc
    *                   (doc_id % 97 == 0, the `decontaminate` convention)
    * @param neighbours (query vec_id, planted neighbour vec_id)
    */
  final case class Corpus(docs: Seq[Row], vecs: Seq[Row],
      dupPairs: Seq[(Long, Long)], contaminated: Seq[Long],
      neighbours: Seq[(Long, Long)], piiDocs: Seq[Long]) {
    def digest: String = Gen.digest(docs.iterator ++ vecs.iterator ++
      dupPairs.iterator ++ contaminated.iterator ++ neighbours.iterator)
  }

  val dim = 32
  val nQueries = 10

  def corpus(seed: Long, batch: Int, n: Int, dupRate: Double = 0.1,
      contamRate: Double = 0.02, piiRate: Double = 0.05): Corpus = {
    val r = rng(seed, 1000L + batch)
    val base = batch.toLong * 1000000L
    val i0 = ((97 - base % 97) % 97).toInt // first benchmark doc index
    val texts = new Array[String](n)
    val dupPairs = Seq.newBuilder[(Long, Long)]
    val contaminated = Seq.newBuilder[Long]
    val pii = Seq.newBuilder[Long]
    // few, large sources: n-gram dedup drops shingles found in more than
    // 30% of a source's docs, so a source must dwarf a duplicate group
    val src = Array.fill(n)(r.nextInt(4))
    (0 until n).foreach { i =>
      val id = base + i
      val u = r.nextDouble()
      texts(i) =
        if (i > 0 && id % 97 != 0 && u < dupRate) {
          // near duplicate of an earlier doc: ~3% of its words replaced
          val j = r.nextInt(i)
          dupPairs += ((base + j, id))
          src(i) = src(j) // dedup clusters within a source
          texts(j).split(' ').map(w => if (r.nextDouble() < 0.03) word(r) else w)
            .mkString(" ")
        } else if (i > i0 && id % 97 != 0 && u < dupRate + contamRate) {
          // copy a passage of an earlier benchmark doc
          val bench = texts(i0 + 97 * r.nextInt((i - 1 - i0) / 97 + 1))
          contaminated += id
          sentence(r, 30) + " " + bench.split(' ').take(12).mkString(" ") + " " +
            sentence(r, 30)
        } else {
          val t = sentence(r, 40 + r.nextInt(80))
          if (u > 1 - piiRate) {
            pii += id
            t + s" mail user${r.nextInt(1000)}@example.com or call +1 555 ${1000000 + r.nextInt(8999999)}"
          } else t
        }
    }
    val docs = (0 until n).map { i =>
      val t = texts(i)
      Row(base + i, t, langs(r.nextInt(langs.length)), s"src${src(i)}",
        t.length.toLong)
    }
    val vecs = new Array[Array[Float]](n)
    val nbrs = Seq.newBuilder[(Long, Long)]
    (0 until n).foreach(i => vecs(i) = Array.fill(dim)((r.nextGaussian()).toFloat))
    // each query vector gets one planted near copy at a seeded position
    val used = scala.collection.mutable.HashSet.empty[Int]
    (0 until math.min(nQueries, n / 4)).foreach { q =>
      var p = nQueries + r.nextInt(n - nQueries)
      while (!used.add(p)) p = nQueries + r.nextInt(n - nQueries)
      vecs(p) = vecs(q).map(x => (x + 0.05 * r.nextGaussian()).toFloat)
      nbrs += ((q.toLong, p.toLong))
    }
    val vrows = (0 until n).map(i => Row(i.toLong, vecs(i).toSeq, i % 10))
    Corpus(docs, vrows, dupPairs.result(), contaminated.result(),
      nbrs.result(), pii.result())
  }

  // ------------------------------------------------------- keyed table

  val keyedSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType),
    StructField("rev", IntegerType)))

  /** The orders-derived keyed table and its seeded change batches. The
    * model is the table state the checker compares the lake against.
    */
  final class Keyed(seed: Long, nRows: Int) {
    private val r = rng(seed, 21)
    val model = scala.collection.mutable.TreeMap.empty[Long, Row]
    private var nextKey = 1L
    private def fresh(rev: Int): Row = {
      val k = nextKey
      nextKey += 1
      Row(k, 1L + r.nextInt(15000), Seq("F", "O", "P")(r.nextInt(3)),
        cents(r, 100, 400000), priorities(r.nextInt(priorities.length)), rev)
    }
    (0 until nRows).foreach { _ => val row = fresh(0); model(row.getLong(0)) = row }

    /** Apply one batch of ~`frac` of the rows (40% update, 30% insert,
      * 30% delete); returns the changed/inserted rows and deleted keys.
      */
    def batch(rev: Int, frac: Double): (Seq[Row], Seq[Long]) = {
      val n = math.max(3, (model.size * frac).toInt)
      val keys = model.keysIterator.toIndexedSeq
      val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (touched.size < (n * 0.7).toInt) touched += keys(r.nextInt(keys.length))
      val (upd, del) = touched.toSeq.splitAt((n * 0.4).toInt)
      val updated = upd.map { k =>
        val o = model(k)
        val row = Row(k, o.getLong(1), Seq("F", "O", "P")(r.nextInt(3)),
          cents(r, 100, 400000), o.getString(4), rev)
        model(k) = row
        row
      }
      del.foreach(model.remove)
      val inserted = (0 until (n * 0.3).toInt).map { _ =>
        val row = fresh(rev); model(row.getLong(0)) = row; row }
      (updated ++ inserted, del)
    }

    def rows: Seq[Row] = model.valuesIterator.toSeq
  }

  // ------------------------------------------------------------ events

  /** One stream event. `late` events are stamped a day behind event time
    * and arrive only after the watermark exists; `dupOf` repeats an
    * earlier event id.
    */
  final case class Event(id: Long, user: Long, kind: String, value: Double,
      offsetMs: Long, late: Boolean, dup: Boolean)

  def events(seed: Long, n: Int, dupShare: Double, lateShare: Double,
      users: Int): IndexedSeq[Event] = {
    val r = rng(seed, 31)
    val out = new Array[Event](n)
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      out(i) =
        if (i > 10 && u < dupShare) out(i - 1 - r.nextInt(math.min(i, 50))).copy(dup = true)
        else Event(i.toLong, 1L + r.nextInt(users), eventTypes(r.nextInt(eventTypes.length)),
          cents(r, 0, 500), r.nextInt(300000), late = u > 1 - lateShare, dup = false)
    }
    out.toIndexedSeq
  }
}
