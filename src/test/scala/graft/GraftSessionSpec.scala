package graft

class GraftSessionSpec extends SparkSpec {

  behavior of "GraftSession.local"

  it should "not let the driver expire its in-process executor after a stall" in {
    val conf = spark.sparkContext.getConf
    conf.get("spark.storage.blockManagerHeartbeatTimeoutMs") shouldBe
      GraftSession.LocalHeartbeatTimeout
    // far beyond the 120 s default, and the RPC ask timeout is untouched
    conf.getTimeAsMs("spark.storage.blockManagerHeartbeatTimeoutMs") should be >=
      24L * 3600 * 1000
    conf.contains("spark.network.timeout") shouldBe false
  }
}
