package graft

import graft.plans.PlanBarriers
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** `PlanBarriers.lazyPin`: the storage currency follows `sizedBy`. */
class PlanBarriersSpec extends SparkSpec {

  /** Rows of `lazyPin(frame, sizedBy)` and the storage of its pinned RDD. */
  private def pinned(frame: DataFrame, sizedBy: DataFrame) = {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val rows = PlanBarriers.lazyPin(frame, sizedBy).collect()
      .map(_.getLong(0)).sorted.toSeq
    val fresh = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(fresh.length === 1, s"expected one pinned RDD: ${fresh.toSeq}")
    sc.getPersistentRDDs(fresh.head.id).unpersist(blocking = true)
    (rows, fresh.head)
  }

  test("lazyPin: heap blocks at 128 MB of sizedBy stats, DISK_ONLY past it") {
    val frame = spark.range(1000).toDF("id")
    // Range stats are 8 bytes per row and need no job: 2^24 rows report
    // exactly the bound, 2^27 rows report 1 GB
    val atBound = spark.range(1L << 24).toDF()
    val past = spark.range(1L << 27).toDF()
    assert(atBound.queryExecution.optimizedPlan.stats.sizeInBytes ===
      PlanBarriers.DiskOnlyPastBytes)
    val (heapRows, heap) = pinned(frame, atBound)
    val (diskRows, disk) = pinned(frame, past)
    assert(heapRows === (0L until 1000L))
    assert(diskRows === heapRows)
    assert(heap.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(heap.memSize > 0 && heap.diskSize === 0L, heap.toString)
    assert(disk.storageLevel === StorageLevel.DISK_ONLY)
    assert(disk.memSize === 0L && disk.diskSize > 0, disk.toString)
  }
}
