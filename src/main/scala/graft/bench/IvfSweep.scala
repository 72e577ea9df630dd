package graft.bench

/** Dev probe: IVF recall/precision vs the s1 brute-force truth across
  * an nprobe sweep — the probe/recall trade-off table documented in
  * README. The driver-gated s6 query pins nprobe at the production
  * default (Similarity.NProbe); this sweep shows what moving the knob
  * buys, the way a real corpus would be tuned.
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.util.LocalSpark.session()
    try {
      for (nProbe <- Seq(1, 2, 4)) {
        val row = graft.sim.Similarity.ivfRecall(spark, sfDir, nProbe = nProbe).head()
        val t0 = System.nanoTime()
        graft.sim.Similarity.ivfTopK(spark, sfDir, nProbe = nProbe).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[ivfsweep] nprobe=$nProbe recall=${row.getDouble(4)}%.4f " +
          f"precision=${row.getDouble(5)}%.4f topk_secs=$sec%.2f")
      }
    } finally spark.stop()
  }
}
