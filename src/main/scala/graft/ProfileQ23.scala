package graft

/** One-off profiler for the q23 brute-force ANN gate (VERDICT round 1
  * item: 30 s at sf0.1 unexplained). Times each stage separately. */
object ProfileQ23 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s (n=$n)")
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    time("read+count")(emb.count())
    time("unit vectors") {
      graft.vectors.VectorOps.withUnitVec(emb).count()
    }
    time("kernel first run") {
      graft.vectors.VectorOps.bruteForceTopKKernel(emb, 5).count()
    }
    time("kernel second run") {
      graft.vectors.VectorOps.bruteForceTopKKernel(emb, 5).count()
    }
    time("kernel + orderBy (gate shape)") {
      graft.vectors.VectorOps.bruteForceTopKKernel(emb, 5)
        .orderBy("id_a", "rk").count()
    }
    time("relational twin") {
      graft.vectors.VectorOps.bruteForceTopK(emb, 5).count()
    }
    spark.stop()
  }
}
