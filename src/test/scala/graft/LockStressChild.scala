package graft

/** Child process for the MULTI-PROCESS lease-lock stress test
  * ([[LockStressSpec]]). Each child loops `rounds` attempts to take the
  * [[graft.tables.FsIO]] write lease on the same target and, while holding
  * it, performs a full delete-and-rewrite of the target (the swap-protocol
  * shape the compact* family serializes) with a verify-in-section
  * read-back: if another writer interleaved, the read-back sees foreign
  * tokens and reports TORN. A live-contender denial is the EXPECTED loud
  * failure and is counted, not retried-silently.
  *
  * No SparkSession: the contract under test is the cross-process atomicity
  * of the lock file itself (create-no-overwrite + read-back-verify), which
  * is exactly what two separate driver JVMs would exercise.
  */
object LockStressChild {
  def main(args: Array[String]): Unit = {
    val Array(dir, id, roundsS, leaseS) = args
    val rounds = roundsS.toInt
    var wins, denied, torn = 0
    var r = 0
    while (r < rounds) {
      try {
        graft.tables.FsIO.withWriteLock(dir, s"child-$id", leaseS.toLong) {
          val d = new java.io.File(dir)
          d.mkdirs()
          Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
          val token = s"$id-$r"
          (0 until 5).foreach { i =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, s"f$i"), token.getBytes("UTF-8"))
          }
          Thread.sleep(8) // widen the window a racing writer would corrupt
          val back = (0 until 5).map { i =>
            new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(dir, s"f$i")), "UTF-8")
          }
          if (back.forall(_ == token)) wins += 1
          else { torn += 1; println(s"TORN id=$id round=$r saw=${back.distinct.mkString(",")}") }
        }
      } catch {
        case e: RuntimeException
            if e.getMessage != null && e.getMessage.contains("another writer") =>
          denied += 1 // the loud loser path — the behavior under test
      }
      Thread.sleep(1 + (r % 3))
      r += 1
    }
    println(s"RESULT id=$id wins=$wins denied=$denied torn=$torn")
  }
}
