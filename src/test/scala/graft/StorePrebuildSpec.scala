package graft

import graft.operators.SignatureStore

/** `StorePrebuild.all` must build every store family a query reaches
  * through `SignatureStore.ensure*`: a family it skips is first built
  * by whichever query touches it, and Verify's parallel pool races that
  * check-then-write build. */
class StorePrebuildSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("prebuild seals the sketch and frame-diff store families") {
    val root = tmpDir("prebuild")
    spark.conf.set("spark.graft.sigstore.root", root)
    try {
      StorePrebuild.all(spark, sfDir)
      val base = SignatureStore.defaultBase(spark, sfDir)
      val families = Seq(
        SignatureStore.dailyKmvDir(base),
        SignatureStore.countMinDir(base),
        SignatureStore.hllDir(base),
        SignatureStore.quantileBinsDir(base),
        SignatureStore.bloomDir(base),
        SignatureStore.mgCountersDir(base),
        SignatureStore.mgLambdasDir(base),
        SignatureStore.frameDiffDir(base))
      val unsealed = families.filterNot(dir =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
      assert(unsealed.isEmpty, s"prebuild left these stores unbuilt: $unsealed")
    } finally spark.conf.unset("spark.graft.sigstore.root")
  }
}
