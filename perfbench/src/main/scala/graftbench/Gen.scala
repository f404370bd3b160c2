package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded snapshot tables. The tables are a pure function of the
  * seed. */
object Gen {

  /** The sf0.1 snapshot: the ten tables the query inventory reads, with
    * the row counts, key spaces and value domains of the sf0.1 profile
    * (15k customers, 150k orders, ~600k lineitems, 100k events, 5000
    * documents over a 31-word vocabulary with planted exact copies, 2000
    * unit-norm 64-d embeddings around 10 label centroids with planted
    * near-copies). Each table is written as ONE parquet file with one row
    * group, so stages run one task each, as on the reference snapshot.
    */
  def snapshot(spark: SparkSession, dst: String, seed: Long): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val s = lit(seed)
    def u(tag: String, cols: Column*): Column =
      pmod(hash((lit(tag) +: s +: cols): _*), lit(1000000)).cast("double") / 1e6
    def hmod(tag: String, id: Column, n: Long): Column =
      pmod(hash(lit(tag), s, id), lit(n))
    def pick(tag: String, id: Column, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*), hmod(tag, id, vals.length).cast("int") + 1)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    val id = col("id")

    save(spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (n, i) => (i, n) })
      .toDF("r_regionkey", "r_name"), "region")
    save(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod("sn", id, 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("sb", id) * 11000.0, 2).as("s_acctbal")), "supplier")
    save(spark.range(20000).select(id.as("p_partkey"),
      concat_ws(" ",
        pick("pa", id, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick("pn", id, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), hmod("pb", id, 25) + 1).as("p_brand"),
      pick("pt", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (hmod("ps", id, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")), "part")
    val nCust = 15000L
    save(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hmod("cn", id, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cb", id) * 11000.0, 2).as("c_acctbal"),
      pick("cs", id, Seq("AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE",
        "MACHINERY")).as("c_mktsegment")), "customer")
    val orders = spark.range(150000L).select(id.as("o_orderkey"),
      hmod("oc", id, nCust).as("o_custkey"),
      pick("os", id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("ot", id) * 499000.0, 2).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) +
        (u("od", id) * 2404).cast("long") * 86400000000L).as("o_orderdate"),
      pick("op", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    save(orders, "orders")
    val rid = col("rid")
    save(orders.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), (hmod("ln", col("o_orderkey"), 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("rid", hash(lit("li"), s, col("l_orderkey"), col("l_linenumber")))
      .select(col("l_orderkey"),
        hmod("lp", rid, 20000L).as("l_partkey"),
        hmod("ls", rid, 1000L).as("l_suppkey"),
        col("l_linenumber"),
        (hmod("lq", rid, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u("le", rid) * 104100.0, 2).as("l_extendedprice"),
        (hmod("ld", rid, 11).cast("double") / 100.0).as("l_discount"),
        (hmod("lt", rid, 9).cast("double") / 100.0).as("l_tax"),
        pick("lr", rid, Seq("R", "A", "N")).as("l_returnflag"),
        pick("ll", rid, Seq("F", "O")).as("l_linestatus"),
        timestamp_micros(lit(789004800000000L) +
          (u("lsd", rid) * 2498).cast("long") * 86400000000L).as("l_shipdate")),
      "lineitem")
    // events: time-ordered by event_id over 30 days, exponential values
    val nEv = 100000L
    val stepUs = 30L * 86400L * 1000000L / nEv
    save(spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs +
        (u("ets", id) * stepUs).cast("long")).as("ts"),
      hmod("eu", id, 1500).as("user_id"),
      pick("et", id, Seq("signup", "view", "click", "purchase", "error")).as("event_type"),
      round(-log(lit(1.0) - u("ev", id) * 0.99999) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", hmod("ek", id, 100)).as("props")), "events")

    val vocab = array(Vocab.map(lit): _*)
    val docs0 = spark.range(5000).select(id.as("doc_id"),
      when(u("dl", id) < 0.41, "en")
        .otherwise(pick("dl2", id, Seq("zh", "es", "fr", "de"))).as("lang"),
      concat(lit("src"), hmod("dsr", id, 20)).as("source"),
      array_join(transform(sequence(lit(0), (hmod("dn", id, 91) + 9).cast("int")),
        i => element_at(vocab, hmod("dt", id * 1000 + i, Vocab.length).cast("int") + 1)),
        " ").as("text"))
    // every 625th document is an exact copy of its predecessor
    val copies = docs0.select((col("doc_id") + 1).as("doc_id"), col("text").as("dup"))
    save(docs0.join(copies, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 625 === 624, col("dup")).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id"), "documents")
    val dims = 64
    def rawVec(tag: String, v: Column): Column = transform(sequence(lit(0), lit(dims - 1)),
      j => element_at(array((0 until 10).map(l => (u(s"c$l", j) - 0.5) +
        (u(tag, v * 100 + j) - 0.5) * 0.6): _*), hmod("elab", v, 10).cast("int") + 1))
    val e0 = spark.range(2000).select(id.as("vec_id"), rawVec("ev", id).as("raw"),
      hmod("elab", id, 10).cast("int").as("label"))
    // every 200th vector is a small perturbation of its predecessor
    val near = e0.select((col("vec_id") + 1).as("vec_id"),
      transform(col("raw"), x => x + 0.004).as("dup"))
    save(e0.join(near, Seq("vec_id"), "left")
      .withColumn("v", when(col("vec_id") % 200 === 199, col("dup")).otherwise(col("raw")))
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("v"), x => (x / col("nrm")).cast("float"))
        .as("embedding"), col("label"))
      .orderBy("vec_id"), "embeddings")
  }

  /** The snapshot's 31-word corpus vocabulary. */
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
}
