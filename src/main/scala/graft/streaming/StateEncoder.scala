package graft.streaming

import scala.reflect.{ClassTag, classTag}
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{Codec, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.TransformingEncoder

/** The state encoder of a keyed stateful operator, for a `val` that builds
  * it once per JVM.
  *
  * Spark compiles a state's (de)serializer into generated classes and
  * caches them by source. Two things made that source differ on every
  * run, so each run of a `flatMapGroupsWithState` query compiled its state
  * classes again:
  *  - deriving the encoder per call (`implicits._`) draws fresh
  *    lambda-variable ids for every `Map`/`Seq` field of its serializer;
  *  - the operator resolves the state deserializer on every plan it
  *    builds, and resolving a `Seq` of structs draws fresh ids as well.
  * The optimizer renumbers those ids inside a query plan, but never in a
  * state encoder. So the encoder is built once, with its deserializer
  * already resolved and bound: resolving that again keeps its ids. The
  * encoded schema and values are the plain product encoder's.
  * CodegenReuseSpec guards it. */
private[streaming] object StateEncoder {
  def apply[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]().resolveAndBind()

  /** A working state `W` that the state store keeps as `T`: the driver
    * decodes a key's state when it loads it and encodes it when it stores
    * it back, once per key per micro-batch. */
  def stored[W: ClassTag, T: TypeTag](store: W => T, load: T => W): Encoder[W] = {
    val codec = new Codec[W, T] { def encode(w: W) = store(w); def decode(t: T) = load(t) }
    ExpressionEncoder(TransformingEncoder(classTag[W], ExpressionEncoder[T]().encoder,
      () => codec)).resolveAndBind()
  }
}
