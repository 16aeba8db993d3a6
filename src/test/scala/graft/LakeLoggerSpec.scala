package graft

import graft.core.LakeLogger
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** §2.6 dual logging sink: console echo + batched one-shot log
  * objects — each message persisted exactly once (the reference's
  * per-message full re-upload is deliberately NOT reproduced). */
class LakeLoggerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def files(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath).toSeq.sortBy(_.getName)
  }

  private def read(p: Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("flush persists each message exactly once, one file per batch") {
    val dir = SparkTestSession.tmp("log").toString + "/logs"
    val log = new LakeLogger(spark.sparkContext.hadoopConfiguration, dir, "job1")
    log.info("first")
    log.warn("second")
    log.flush()
    val afterFirst = files(dir)
    assert(afterFirst.size == 1)
    val body1 = read(afterFirst.head)
    assert(body1.contains("[INFO] first") && body1.contains("[WARN] second"))

    // second batch: only the NEW message is written, to a NEW object
    log.error("third")
    log.close()
    val afterSecond = files(dir)
    assert(afterSecond.size == 2)
    val body2 = read(afterSecond.filterNot(afterFirst.contains).head)
    assert(body2.contains("[ERROR] third"))
    assert(!body2.contains("first"), "a flush must not re-upload prior messages")
  }

  test("empty flush writes nothing; close is an idempotent flush") {
    val dir = SparkTestSession.tmp("log2").toString + "/logs"
    val log = new LakeLogger(spark.sparkContext.hadoopConfiguration, dir, "job2")
    log.flush()
    log.close()
    assert(files(dir).isEmpty)
  }
}
