package perfbench

/** Class-loading training run, made once per build by run.py with
  * `-XX:ArchiveClassesAtExit`: on one session it sets up every workload and
  * runs its warm-up round, so that the class-data archive holds what the
  * benchmark's runs load and their JVMs start without reading the classes
  * from the jars again.
  *
  * {{{
  * perfbench.Train <work dir>
  * }}} */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: perfbench.Train <work dir>"))
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors())
    try Workload.Names.foreach { n =>
      val wl = Workload(n)
      val c = new Client(spark, None)
      wl.setup(c, s"$work/$n", 1L)
      wl.warmUpRound(c)
      require(c.problems.isEmpty, s"$n: ${c.problems.mkString("; ")}")
    } finally spark.stop()
  }
}
