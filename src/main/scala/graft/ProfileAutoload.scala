package graft

/** One-off AutoLoader discovery-cost profiler (not part of the public
  * surface): the loader's per-trigger cost is one recursive listing plus a
  * set-diff against the ledger — this measures that cost as the raw
  * directory grows, plus the restart cost of replaying the durable ledger.
  * Usage: runMain graft.ProfileAutoload [nFiles ...]
  */
object ProfileAutoload {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1000, 5000, 20000)
    val spark = GraftSession.local(defaultCpus = 32)

    sizes.foreach { n =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_alprof_$n").toString
      val raw  = java.nio.file.Paths.get(root, "raw")
      java.nio.file.Files.createDirectory(raw)
      (0 until n).foreach { i =>
        java.nio.file.Files.write(raw.resolve(f"f_$i%07d.txt"), s"line $i\n".getBytes)
      }
      def ms(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      val src = new graft.sources.AutoLoader.AutoLoadSource(
        spark, raw.toString, graft.sources.AutoLoader.TextSchema,
        s"$root/ckpt", None, "text")
      val first = ms { src.getOffset }        // backfill discovery: n new files
      val idle  = ms { src.getOffset }        // steady state: listing + diff, 0 new
      val idle2 = ms { src.getOffset }
      // restart: a fresh source replays the durable ledger
      val replay = ms {
        new graft.sources.AutoLoader.AutoLoadSource(
          spark, raw.toString, graft.sources.AutoLoader.TextSchema,
          s"$root/ckpt", None, "text")
      }
      println(f"ALPROF files=$n%6d firstDiscovery=${first}%9.1f ms " +
        f"idleTrigger=${math.min(idle, idle2)}%7.1f ms ledgerReplay=${replay}%7.1f ms")
    }
    spark.stop()
  }
}
