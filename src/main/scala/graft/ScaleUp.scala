package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: synthesize a larger scale factor from an existing one for the
  * SCALE.md scale rehearsal (not part of the driver contract).
  *
  * `copies` key-shifted copies of every fact table are unioned; `region` /
  * `nation` stay fixed (dimensions). The copies are built so every query's
  * WORK scales linearly — i.e. the rehearsal measures the engine's scaling
  * slope, not a synthetic blow-up:
  *
  *   - all keys (custkey/orderkey/partkey/suppkey/user_id/doc_id/vec_id)
  *     shift by `copy * 1e9`, preserving FK joins within each copy and
  *     keeping fixed probe sets (`doc_id < 20`, `vec_id < 8`, IVF
  *     centroids `< 496`) in copy 0 only — probe counts stay constant
  *     while the corpus grows, exactly the 100 TB shape;
  *   - document tokens get a per-copy suffix (`$1xC`), an isomorphic token
  *     remap: Jaccard/simhash relations WITHIN a copy are preserved
  *     exactly, while cross-copy shingle/token sets are disjoint — so
  *     near-dup pair counts scale ×copies, never ×copies²;
  *   - embedding elements get a deterministic per-copy sign mask
  *     (cosine-invariant scaling would leave copies identical): cross-copy
  *     cosines collapse toward 0, so LSH/IVF bucket loads and e3 pair
  *     counts also scale linearly.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/root/repo/localdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // key-shift stride; when scaling an ALREADY-scaled dir, pass a stride
    // larger than copies_prev × stride_prev so shifted ids cannot collide
    val off = args.lift(3).map(_.toLong).getOrElse(1000000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name done")
    }
    def fanout(name: String)(per: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      write(name, (0 until copies).map(c => per(base, c)).reduce(_ unionByName _))
    }
    def shift(df: DataFrame, c: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * off)))

    Seq("region", "nation").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
    fanout("customer")((df, c) => shift(df, c, "c_custkey"))
    fanout("supplier")((df, c) => shift(df, c, "s_suppkey"))
    fanout("part")((df, c) => shift(df, c, "p_partkey"))
    fanout("orders")((df, c) => shift(df, c, "o_orderkey", "o_custkey"))
    fanout("lineitem")((df, c) => shift(df, c, "l_orderkey", "l_partkey", "l_suppkey"))
    fanout("events")((df, c) => shift(df, c, "event_id", "user_id"))
    fanout("documents") { (df, c) =>
      val d = shift(df, c, "doc_id")
      if (c == 0) d
      // isomorphic token remap: every token gets an "xC" suffix
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1x$c"))
    }
    fanout("embeddings") { (df, c) =>
      val d = shift(df, c, "vec_id")
      if (c == 0) d
      else d.withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(pmod(xxhash64(lit(c), i), lit(2)) === 0, x).otherwise(-x)))
    }
    spark.stop()
  }
}
