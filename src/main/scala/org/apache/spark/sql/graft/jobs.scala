package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, TakeOrderedAndProjectExec}

import scala.reflect.ClassTag

/** One Spark job per call, through `SparkContext.runJob`. The task
  * closures are declared here, in a small class: Spark's closure cleaner
  * reads and parses the class file that declares each closure it cleans,
  * and an RDD action such as `collect` or `takeOrdered` cleans closures
  * declared in `RDD` and `SparkContext`, whose class files are about
  * 200 KB each. A call here cleans one closure, this object's. */
object Jobs {

  /** `f` over every partition of `rdd` in one job; the results in
    * partition order. Jobs keep the caller's job description. */
  def run[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] = {
    val out = new Array[U](rdd.partitions.length)
    rdd.sparkContext.runJob(rdd, (_: TaskContext, rows: Iterator[T]) => f(rows),
      out.indices, (i: Int, u: U) => out(i) = u)
    out
  }

  /** The distinct values, ascending, of every int column of `rows`, each
    * in [0, `n`), in one job: each partition sends one bit set of at most
    * `n` bits. */
  def cover(rows: RDD[InternalRow], n: Int): Seq[Int] = {
    val sets = run(rows) { it =>
      val bits = new java.util.BitSet(n)
      while (it.hasNext) {
        val r = it.next()
        var i = 0
        while (i < r.numFields) { bits.set(r.getInt(i)); i += 1 }
      }
      bits.toLongArray
    }
    val all = new java.util.BitSet(n)
    sets.foreach(s => all.or(java.util.BitSet.valueOf(s)))
    all.stream().toArray.toSeq
  }

  /** The rows `qe`'s root `TakeOrderedAndProjectExec` returns, computed in
    * one job labelled `label`: each partition keeps at most `limit` rows in
    * a bounded heap under the node's sort order, and the driver merges the
    * heaps and applies the node's `projectList`. The job runs inside a
    * new SQL execution of `qe`, as `Dataset.collect` would run it, so SQL
    * metrics and listeners see the query. Any other plan root fails. */
  def takeOrdered(qe: QueryExecution, label: String): Array[InternalRow] =
    qe.executedPlan match {
      case top: TakeOrderedAndProjectExec if top.offset == 0 =>
        SQLExecution.withNewExecutionId(qe, Some("collect")) {
          top.resetMetrics()
          val ord = new LazilyGeneratedOrdering(top.sortOrder, top.child.output)
          val n = top.limit
          val heaps = described(qe.sparkSession.sparkContext, label) {
            run(top.child.execute())(rows => least(rows, n, ord))
          }
          val merged = heaps.flatten.sorted(ord).take(n)
          if (top.projectList == top.child.output) merged
          else {
            val proj = UnsafeProjection.create(top.projectList, top.child.output)
            merged.map(r => proj(r).copy())
          }
        }
      case other => throw new IllegalStateException(
        s"Jobs.takeOrdered needs a TakeOrderedAndProject plan root without an offset, " +
          s"got ${other.nodeName}:\n$other")
    }

  /** The `n` least rows of `rows` under `ord`, unordered. A row is copied
    * only when it enters the heap (scans reuse their row objects). */
  private def least(rows: Iterator[InternalRow], n: Int,
                    ord: Ordering[InternalRow]): Array[InternalRow] = {
    val heap = new java.util.PriorityQueue[InternalRow](math.max(n, 1), ord.reverse)
    while (rows.hasNext) {
      val r = rows.next()
      if (heap.size < n) heap.add(r.copy())
      else if (n > 0 && ord.lt(r, heap.peek())) {
        heap.poll()
        heap.add(r.copy())
      }
    }
    heap.toArray(new Array[InternalRow](0))
  }

  /** Run `body` with `label` as the job description of the jobs it
    * submits from this thread, then restore the previous one. */
  def described[A](sc: SparkContext, label: String)(body: => A): A = {
    val prev = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
