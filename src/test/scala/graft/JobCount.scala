package graft

import org.apache.spark.sql.SparkSession

/** Jobs a block ran, counted through a job group once the status
  * tracker stops changing (it is fed by the async listener bus). */
object JobCount {
  def of(spark: SparkSession, gid: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(gid, gid, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    def read() = sc.statusTracker.getJobIdsForGroup(gid).length
    var prev = -1; var cur = read(); var spins = 0
    while (cur != prev && spins < 50) {
      Thread.sleep(100); prev = cur; cur = read(); spins += 1
    }
    cur
  }
}
