package graft.operators

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** The one put-if-absent behind the manifest and view-version slots:
  * racing writers in one JVM get exactly one winner, and the slot reads
  * back as the winner's bytes with a matching checksum. */
class PutIfAbsentSpec extends SparkTestBase {

  test("8 racing writers x 50 rounds on one slot: one winner per round, its bytes read back") {
    val dir = new Path(s"${graft.Tables.scratchDir}/put_if_absent")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val slot = new Path(dir, "slot")
    val writers = 8
    val pool = Executors.newFixedThreadPool(writers)
    try {
      (1 to 50).foreach { round =>
        fs.delete(slot, false)
        val barrier = new CyclicBarrier(writers)
        // equal lengths, different bytes: a data file paired with another
        // writer's checksum sidecar fails its read
        def bytes(w: Int) = f"round $round%03d writer $w".getBytes(StandardCharsets.UTF_8)
        val wins = (0 until writers).map { w =>
          pool.submit(new Callable[Boolean] {
            override def call(): Boolean = {
              barrier.await(30, TimeUnit.SECONDS)
              TableFormat.putIfAbsent(fs, slot, bytes(w), ".staged.")
            }
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        assert(wins.count(identity) == 1, s"round $round winners: $wins")
        val in = fs.open(slot)
        val got = try in.readAllBytes() finally in.close()
        assert(got.sameElements(bytes(wins.indexOf(true))),
          s"round $round read back '${new String(got, StandardCharsets.UTF_8)}'")
      }
      assert(fs.listStatus(dir).forall(!_.getPath.getName.contains(".staged.")),
        "a losing writer left its staged file behind")
    } finally pool.shutdownNow()
  }
}
