package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: build a ~10× scale probe dataset from sf0.1 by UNION of key-
  * offset replicas — the VERDICT-r10 #5 ask (measure the top-10 queries'
  * scaling exponents instead of arguing them in scaladoc).
  *
  * TWO scale axes (4th arg, default "shift"):
  *  - "shift" = MORE HISTORY: each events replica shifts its timestamps by
  *    i × (day range), so the (event_type, day) slot domain grows 10×
  *    while per-slot membership stays flat — the production shape for a
  *    longer crawl/log horizon.
  *  - "dense" = MORE USERS ON THE SAME DAYS: user/event ids offset but
  *    timestamps UNTOUCHED, so the slot domain stays fixed and every
  *    slot's membership grows 10× — the axis that makes per-slot
  *    co-occurrence quadratically denser (each cross-replica user-twin
  *    pair shares its full slot set, so the co-activity graph genuinely
  *    densifies). This is the hazard ScaleGen's own round-11 comment
  *    documented but never probed (VERDICT r12 #2); q150's prefix filter
  *    + eligibility pre-filter own it.
  *  - "clustered" = REAL-CORPUS EMBEDDING GEOMETRY (VERDICT r13 #1): every
  *    other table replicates exactly like "shift", but the embedding
  *    column is REWRITTEN as a skewed mixture around K=8 deterministic
  *    centroids (Zipf-ish weights, the hottest blob holds ~50% of all
  *    vectors) with ±10% of the original per-dim value kept as
  *    within-blob noise. The driver's synthetic embeddings are
  *    near-uniform on the sphere, so random-hyperplane signatures come
  *    out balanced BY LUCK — real embedding corpora cluster, all members
  *    of one tight blob share the sign on EVERY hyperplane (the noise
  *    never flips a dot the centroid dominates), and the hottest LSH/IVF
  *    bucket inherits the hottest blob's mass. This mode manufactures
  *    that worst case so the bucket-join family (q28/q33/q79/q85 and the
  *    q168/q175 kNN graph) can be probed on it instead of argued about.
  *    Blob assignment hashes the REPLICATED vec_id, so 10× is 10×
  *    independent draws from the same mixture, not 10 twins per blob.
  * Key spaces (orderkey/custkey/user/doc/vec ids) are offset per replica so
  * joins keep their selectivity; dims (part/region/nation/supplier) stay
  * fixed like a real catalog. Fact distributions within a replica are the
  * driver's own sf0.1 rows, untouched. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "shift"
    require(mode == "shift" || mode == "dense" || mode == "clustered",
      s"unknown mode $mode")
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")

    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name done")
    }
    def keyMax(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => f(df, i)).reduce(_ unionByName _)

    // dims: fixed catalog
    Seq("region", "nation", "supplier", "part").foreach(n => write(raw(n), n))

    val cust = raw("customer"); val custOff = keyMax(cust, "c_custkey")
    write(replicate(cust)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))), "customer")

    val ord = raw("orders"); val okOff = keyMax(ord, "o_orderkey")
    write(replicate(ord)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))), "orders")

    val li = raw("lineitem")
    write(replicate(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okOff))), "lineitem")

    val ev = raw("events")
    val uOff = keyMax(ev, "user_id")
    val eOff = keyMax(ev, "event_id")
    val spanDays = ev.agg(
      (datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).cast("long"))
      .head().getLong(0)
    write(replicate(ev)((d, i) => {
      val base = d.withColumn("event_id", col("event_id") + lit(i * eOff))
        .withColumn("user_id", col("user_id") + lit(i * uOff))
      if (mode == "dense") base // same days: slots densify, domain fixed
      else base.withColumn("ts",
        col("ts") + expr(s"make_interval(0, 0, 0, ${i * spanDays}, 0, 0, 0)"))
    }), "events")

    val docs = raw("documents"); val dOff = keyMax(docs, "doc_id")
    write(replicate(docs)((d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * dOff))), "documents")

    val emb = raw("embeddings"); val vOff = keyMax(emb, "vec_id")
    val embOut = replicate(emb)((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * vOff)))
    write(if (mode == "clustered") clusterEmbeddings(embOut) else embOut,
      "embeddings")

    spark.stop()
  }

  /** Skewed-mixture rewrite of the embedding column ("clustered" mode).
    * K = 8 blobs; mass split 50/20/12/8/5/3/1.5/0.5 % (cumulative per-mille
    * thresholds below). Centroid components come from a seeded splitmix64
    * walk (pure function of (blob, dim) — regenerable by any engine, no
    * Random state). new = 0.9·centroid + 0.1·old keeps the original value
    * as within-blob noise: the centroid term (~O(0.5) per dim) dominates
    * every hyperplane dot, so blob members share LSH signatures — the
    * manufactured hot bucket. All arithmetic is Column-level (no UDF):
    * one codegen'd map pass, zero shuffles. */
  private[graft] def clusterEmbeddings(e: DataFrame, dim: Int = 64): DataFrame = {
    val weightsPerMille = Seq(500L, 700L, 820L, 900L, 950L, 980L, 995L, 1000L)
    // centroid component in [-1, 1): blob c, dim d -> splitmix64(c*dim+d)
    val cents: Seq[Seq[Float]] = (0 until weightsPerMille.size).map(c =>
      (0 until dim).map(d =>
        (graft.functions.TextFns.splitmix64(c.toLong * dim + d).toDouble
          / 9.223372036854776e18).toFloat))
    val centLit = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val u = pmod(xxhash64(col("vec_id")), lit(1000L))
    val blob = weightsPerMille.zipWithIndex.init.reverse
      .foldLeft(lit(weightsPerMille.size - 1)) { case (acc, (thr, i)) =>
        when(u < lit(thr), lit(i)).otherwise(acc)
      }
    e.withColumn("blob", blob)
      .withColumn("embedding",
        zip_with(col("embedding"), element_at(centLit, col("blob") + 1),
          (x, c) => (c * lit(0.9f) + x * lit(0.1f)).cast("float")))
      .drop("blob")
  }
}
