package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleRehearsal builds its corpus caches with java.io, so its scratch
  * root must be a local path: one on another filesystem is refused. */
class ScaleRehearsalSpec extends AnyFunSuite {

  test("a local scratch root is kept, a file: URI becomes its path") {
    assert(ScaleRehearsal.localScratch("/data/scratch/graft_scale_x2") ==
      "/data/scratch/graft_scale_x2")
    assert(ScaleRehearsal.localScratch("file:///data/scratch/graft_scale_x2") ==
      "/data/scratch/graft_scale_x2")
  }

  test("a scratch root on another filesystem is refused") {
    for (root <- Seq("hdfs://nn:8020/scratch", "s3a://bucket/scratch")) {
      val e = intercept[IllegalArgumentException](
        ScaleRehearsal.localScratch(s"$root/graft_scale_x2"))
      assert(e.getMessage.contains("SPARK_GRAFT_SCRATCH") && e.getMessage.contains(root))
    }
  }
}
