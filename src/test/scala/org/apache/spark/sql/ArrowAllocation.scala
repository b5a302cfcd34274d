package org.apache.spark.sql

/** Test access to the bytes held by Spark's Arrow root allocator
  * (`ArrowUtils` is private[sql]), which every Arrow encoder allocates
  * from. */
object ArrowAllocation {
  def bytes: Long = org.apache.spark.sql.util.ArrowUtils.rootAllocator.getAllocatedMemory
}
