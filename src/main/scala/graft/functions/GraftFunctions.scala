package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the custom codegen expressions, so they're usable
  * from `spark.sql(...)` and not just the Column API:
  *
  *  - `graft_dot(a, b)`                    — [[DotProduct]]
  *  - `graft_sorted_intersect_size(a, b)`  — [[SortedIntersectSize]]
  *  - `graft_vector_sum_micros(v)`         — [[VectorSumMicros]] (aggregate)
  *
  * Two entry points: [[GraftExtensions]] for config-driven injection
  * (`spark.sql.extensions=graft.functions.GraftExtensions` — the way a
  * cluster deployment ships them), and [[GraftFunctions.register]] for an
  * already-running session.
  */
object GraftFunctions {

  private def fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot expects 2 arguments")
        DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_sorted_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sorted_intersect_size expects 2 arguments")
        SortedIntersectSize(args(0), args(1))
      }),
    (FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDistance].getName, "graft_hamming"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hamming expects 2 arguments")
        HammingDistance(args(0), args(1))
      }),
    (FunctionIdentifier("graft_sq_dist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "graft_sq_dist"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sq_dist expects 2 arguments")
        SquaredDistance(args(0), args(1))
      }),
    (FunctionIdentifier("graft_vector_sum_micros"),
      new ExpressionInfo(classOf[VectorSumMicros].getName, "graft_vector_sum_micros"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_vector_sum_micros expects 1 argument")
        VectorSumMicros(args.head).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_quantize_bytes"),
      new ExpressionInfo(classOf[QuantizeToBytes].getName, "graft_quantize_bytes"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_quantize_bytes expects (array, scale)")
        QuantizeToBytes(args(0),
          args(1).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_byte_dot"),
      new ExpressionInfo(classOf[ByteDot].getName, "graft_byte_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_byte_dot expects 2 arguments")
        ByteDot(args(0), args(1))
      }),
    (FunctionIdentifier("graft_long_dot"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_long_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_long_dot expects 2 arguments")
        LongDot(args(0), args(1))
      }),
    (FunctionIdentifier("graft_quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDot].getName, "graft_quantized_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_quantized_dot expects (a, b, scale)")
        QuantizedDot(args(0), args(1),
          args(2).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_letter_gini"),
      new ExpressionInfo(classOf[LetterGini].getName, "graft_letter_gini"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_letter_gini expects 1 argument")
        LetterGini(args.head)
      }),
    (FunctionIdentifier("graft_image_meta"),
      new ExpressionInfo(classOf[ImageMeta].getName, "graft_image_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_image_meta expects 1 argument")
        ImageMeta(args.head)
      }),
    (FunctionIdentifier("graft_audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "graft_audio_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_audio_meta expects 1 argument")
        AudioMeta(args.head)
      }),
    (FunctionIdentifier("graft_video_meta"),
      new ExpressionInfo(classOf[VideoMeta].getName, "graft_video_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_video_meta expects 1 argument")
        VideoMeta(args.head)
      }),
    (FunctionIdentifier("graft_subword_tokenize"),
      new ExpressionInfo(classOf[SubwordTokenize].getName, "graft_subword_tokenize"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_subword_tokenize expects (text, vocab array literal)")
        require(args(1).foldable, "the vocab argument must be a literal array")
        val arr = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val vocab = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        SubwordTokenize(args(0), vocab)
      }))

  /** Register on a live session. */
  def register(spark: SparkSession): Unit =
    fns.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  private[functions] def inject(ext: SparkSessionExtensions): Unit = {
    fns.foreach(ext.injectFunction)
    // custom logical operator (SURVEY §2.10 ladder (c)): the strategy that
    // plans the TopKPerKey node as the bounded-heap pair, so a deployment
    // that only sets spark.sql.extensions gets the full ladder.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
