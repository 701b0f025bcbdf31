package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Hadoop `Text.hashCode` (`h = 1; h = 31·h + byte` over UTF-8 bytes)
  * as a Catalyst expression — the hash behind the reference's
  * `HashPartitioner % 32` reduce-partition placement (verified against
  * the golden part files in SURVEY.md §8.4: `zu+i → partition 26`,
  * `00eggs+fried → 0`, …).
  *
  * `hadoopPartition` is the partition-id expression of
  * `BigramJob.writeHadoopLayout`, the `--hadoop-layout` sink that
  * reproduces the golden *file layout*; normal queries compare
  * order-insensitively and use Spark's own Murmur3 shuffle hash.
  */
object HadoopTextHash {

  case class TextHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hadoop_text_hash"

    override def nullSafeEval(v: Any): Any =
      HadoopTextHash.compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HadoopTextHash.compute($c)")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Static entry point (also called from generated Java). */
  def compute(s: UTF8String): Int = {
    val n = s.numBytes()
    var h = 1
    var i = 0
    while (i < n) { h = 31 * h + s.getByte(i); i += 1 }
    h
  }

  def textHash(c: Column): Column =
    ColumnBridge.column(TextHash(ColumnBridge.expression(c)))

  /** The reduce partition Hadoop's default HashPartitioner would pick:
    * `(hash & Int.MaxValue) % numPartitions`. */
  def hadoopPartition(c: Column, numPartitions: Int): Column =
    (textHash(c).bitwiseAND(lit(Int.MaxValue)) % numPartitions).cast("int")
}
