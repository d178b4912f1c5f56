package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a ~10× "sf1" copy of the driver's sf0.1 testdata into a
  * scratch directory (default /tmp/graft_sf1) for the scaling-exponent
  * audit ([[BenchScaling]]) — sf0.1 can hide O(n²) creep that only a
  * third decade exposes.
  *
  * RELATIONAL tables (lineitem/orders/customer/part/supplier/events)
  * replicate 10× with foreign-key-consistent key offsets (replica ·
  * 10⁹), so joins keep their selectivity and group counts scale with the
  * data — exactly how these tables grow in the real generator. region/
  * nation are fixed dimensions and copy through. documents replicate with
  * TOKEN-SALTED text (disjoint per-replica vocabularies — see the entry
  * below) and embeddings with fresh random vectors: replicating either
  * verbatim would manufacture cross-replica (near-)duplicates that
  * inflate every dedup/ANN bucket 10× — a workload the real generator
  * does not produce. Most text gates are still audited on the genuine
  * sf0.01→sf0.1 decade; only the three join-fan-out gates (q238/q247/
  * q253) take the synthesized documents sf1 decade.
  */
object ScaleData {

  val Replicas = 10
  val EmbReplicas = 4
  val KeyStride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = SparkEntry.session("local[8]", 8)

    def replicate(t: String, keyCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      base.crossJoin(spark.range(Replicas).select(col("id").as("_rep")))
        .select(base.columns.map { c =>
          if (keyCols.contains(c)) (col(c) + col("_rep") * KeyStride).as(c)
          else col(c)
        }: _*)
    }

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.read.parquet(s"$src/region.parquet"),
      "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      "supplier" -> replicate("supplier", Seq("s_suppkey")),
      "part" -> replicate("part", Seq("p_partkey")),
      "customer" -> replicate("customer", Seq("c_custkey")),
      "orders" -> replicate("orders", Seq("o_orderkey", "o_custkey")),
      "lineitem" -> replicate("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> replicate("events", Seq("event_id", "user_id")),
      // documents: replicas get TOKEN-SALTED text (every alnum run gains
      // a per-replica suffix), so replica vocabularies are disjoint —
      // shingles/minhash/simhash buckets never collide across replicas
      // and the corpus grows like ten unrelated crawls concatenated
      // (genuine growth), NOT like one corpus duplicated 10× (which would
      // inflate every dedup/ANN bucket with manufactured near-dups).
      // Replica 0 keeps the original text, so the real data is a subset.
      // Used by the documents-backed sf1 decades (q238/q247/q253).
      "documents" -> {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        docs.crossJoin(spark.range(Replicas).select(col("id").as("_rep")))
          .select(
            (col("doc_id") + col("_rep") * KeyStride).as("doc_id"),
            when(col("_rep") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("([a-z0-9]+)"),
                concat(lit("$1x"), col("_rep")))).as("text"),
            col("lang"), col("source"), col("n_chars"))
      },
      // embeddings: replicas get FRESH deterministic vectors (md5-derived
      // uniforms in [-1, 1)) — replicating vectors verbatim would
      // manufacture exact cross-replica duplicates and poison every
      // dedup/ANN bucket, while fresh 64-d random vectors are
      // near-orthogonal to everything (genuine growth, like new data).
      // ×4 (not ×10): the quadratic exact-miner baseline q168 is timed on
      // this table — 16× pair cost is an affordable single-pass decade,
      // 100× is not. Replica 0 keeps the original vectors, so the real
      // data is a subset.
      "embeddings" -> {
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
        emb.crossJoin(spark.range(EmbReplicas).select(col("id").as("_rep")))
          .select(
            (col("vec_id") + col("_rep") * KeyStride).as("vec_id"),
            when(col("_rep") === 0, col("embedding")).otherwise(expr(
              "transform(sequence(0, size(embedding) - 1), i -> " +
                "cast(cast(conv(substring(md5(concat(vec_id, '_', _rep, '_', i)), 1, 15), 16, 10) as double)" +
                " / 576460752303423487.5 - 1.0 as float))")).as("embedding"),
            col("label"))
      }
    )
    plans.foreach { case (t, df) =>
      df.coalesce(4).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] wrote $t")
    }
    spark.stop()
  }
}
