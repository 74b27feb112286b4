package graft

/** The pin's storage without a checkpoint dir. The reliable branch
  * (checkpoint dir set) is exercised by ConnectedComponentsSpec. */
class PinSpec extends SparkSpec {

  test("without a checkpoint dir, pin keeps its blocks on disk too") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val before = sc.getPersistentRDDs.keySet
    val pinned = Tables.pin(spark.range(1000).toDF("id"))
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    try {
      assert(added.size == 1)
      val level = added.values.head.getStorageLevel
      assert(level.useDisk, s"local checkpoint stored as $level")
      assert(pinned.count() == 1000)
    } finally added.values.foreach(_.unpersist(blocking = true))
  }
}
