package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.types._

/** Projection-spec DSL mirroring the reference's projector subsystem
  * (reference: src/projector.rs:15-126): project by position, by name, all
  * columns; rename (`As::NEW`) and prefix (`As::PREFIX`, the classic join
  * disambiguation tool, src/projector.rs:31-38); bind-time validation of
  * names/positions and rejection of duplicate output names
  * (src/projector.rs:72-92 via Schema::from_vec).
  *
  * Execution is a plain Catalyst `Project` node — column pruning reaches the
  * parquet scan (the Spark analogue of the reference's zero-copy
  * `AliasColumn` output, src/projector.rs:135-149, is "never read the bytes
  * at all").
  */
sealed trait ProjectorSpec
final case class ByName(name: String, as: Option[String] = None) extends ProjectorSpec
final case class ByPosition(pos: Int, as: Option[String] = None) extends ProjectorSpec
final case class AllAttributes(prefix: Option[String] = None) extends ProjectorSpec

final case class SingleSourceProjector(specs: Seq[ProjectorSpec]) {

  /** Resolve specs against the input schema; typed bind-time errors
    * (AttributeMissing / AttributeOutOfBounds / DuplicateAttribute), matching
    * the reference's `SingleSourceProjector::bind` contract.
    */
  def bind(schema: GSchema): Seq[(String, String)] = {
    val out = specs.flatMap {
      case ByName(n, as) =>
        val a = schema.byName(n) // throws AttributeMissing
        Seq(a.name -> as.getOrElse(a.name))
      case ByPosition(p, as) =>
        val a = schema.byPosition(p) // throws AttributeOutOfBounds
        Seq(a.name -> as.getOrElse(a.name))
      case AllAttributes(prefix) =>
        schema.attrs.map(a => a.name -> (prefix.getOrElse("") + a.name))
    }
    val seen = scala.collection.mutable.HashSet[String]()
    out.foreach { case (_, o) => if (!seen.add(o)) throw DuplicateAttribute(o) }
    out
  }

  def apply(df: DataFrame): DataFrame = {
    val bound = bind(GSchema.fromStruct(df.schema))
    df.select(bound.map { case (in, out) => col(in).as(out) }: _*)
  }
}

object Projector {
  def byName(n: String): ProjectorSpec = ByName(n)
  def byNameAs(n: String, as: String): ProjectorSpec = ByName(n, Some(as))
  def byPosition(p: Int): ProjectorSpec = ByPosition(p)
  def byPositionAs(p: Int, as: String): ProjectorSpec = ByPosition(p, Some(as))
  def allPrefixed(prefix: String): ProjectorSpec = AllAttributes(Some(prefix))

  def of(specs: ProjectorSpec*): SingleSourceProjector = SingleSourceProjector(specs)
}
