package graft.source.pgoutput

import graft.source.pgoutput.PgOutputMessage.ColumnDef
import graft.source.pgoutput.PgOutputMessages.Relation

/** S4 — per-relation schema registry.
  *
  * Column names/OIDs arrive on the wire in RELATION messages before the first
  * data message for that relation; the registry caches them keyed by
  * relation_id, rebuilt from the stream on every restart and updated in place
  * on ALTER TABLE (reference: src/source/postgres/relation_registry.zig:27-105,
  * docs/design/STREAMING_REPLICATION_DESIGN.md:113-127).
  *
  * Single-threaded per reader (a replication slot is one ordered stream), so
  * a plain mutable map is correct; downstream Spark stages receive the
  * already-converted envelope and never touch this.
  */
final class RelationRegistry {
  final case class RelationInfo(
      relationId: Int, namespace: String, name: String,
      replicaIdentity: Byte, columns: Vector[ColumnDef]) {
    /** Schema-qualified identity — `schema.table` (converter.zig:92-94);
      * built once per RELATION message, read for every event. */
    val resource: String = s"$namespace.$name"
    /** REPLICA IDENTITY FULL ('f') ships full old rows on UPDATE/DELETE. */
    def hasFullIdentity: Boolean = replicaIdentity == 'f'.toByte
  }

  private val byId = scala.collection.mutable.Map.empty[Int, RelationInfo]

  def register(r: Relation): Unit =
    byId.update(r.relationId, RelationInfo(
      r.relationId, r.namespace, r.name, r.replicaIdentity, r.columns))

  def get(relationId: Int): Option[RelationInfo] = byId.get(relationId)

  def size: Int = byId.size
}
