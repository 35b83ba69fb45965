package graft.model

import java.sql.Timestamp

/** Core record shapes of the engine (SURVEY.md §1.5).
  *
  * The reference (`/root/reference/src/lib.rs:54-110`) keeps these as in-memory
  * Rust structs over borrowed `&str`; here they are case classes backed by
  * Catalyst `Encoder`s so every stage is a `Dataset` transformation.
  */

/** One parsed entity-dump row (reference `lib.rs:224-279` `parse_entity`).
  * `seq` is the 0-based input row number; the reference relies on stable input
  * order for tie-breaks (stable `sort_by_key`, `kg-entities.rs:249-251`), so we
  * carry it explicitly instead of depending on partition order.
  */
final case class RawEntity(
    qid: String,
    label: String,
    desc: String,
    count: Long,
    types: Seq[String],
    aliases: Seq[String],
    seq: Long)

/** One parsed property-dump row (reference `lib.rs:162-222` `parse_property`).
  * `label` is already KG-decorated (dbpedia "(ontology)" / freebase "(domain)",
  * `lib.rs:177-193`).
  */
final case class RawProperty(
    pid: String,
    label: String,
    count: Long,
    aliases: Seq[String],
    inverses: Seq[String],
    seq: Long)

/** Redirect row (reference `kg-entities.rs:63-93`). */
final case class RedirectRow(qid: String, redirects: Seq[String])

/** One natural-language index entry.
  *
  * Inversion of the reference's `label_to_ent: HashMap<(&str, Option<&str>), Ent>`
  * (`kg-entities.rs:178`). `kind` encodes the `Ent` priority lattice
  * (`lib.rs:30-46`): 0=Label < 1=LabelInfo < 2=Alias < 3=AliasInfo.
  */
final case class IndexEntry(surface: String, info: Option[String], id: String, kind: Int)

object IndexKind {
  val Label = 0
  val LabelInfo = 1
  val Alias = 2
  val AliasInfo = 3
}

/** Input transcript row — shape fixed by BASELINE.json `input_hint`. */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** A detected + linked mention inside a turn. */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    span_start: Int,
    span_end: Int,
    surface: String,
    id: String,
    kind: Int,
    is_prop: Boolean,
    score: Double)

/** An extracted (subj, pred, obj) triple with provenance. */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    conv_id: String,
    turn_idx: Int,
    score: Double)
