package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline.
  *
  * The input shape mirrors the reference's per-record property bag
  * (/root/reference/src/TCXParser.jl:59-70) re-instantiated for
  * conversation transcripts per BASELINE.json `input_hint`:
  * (conv_id, turn_idx, role, text, tool, ts).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** A (subj, pred, obj) triple with provenance, pre-canonicalization.
  * Mirrors the reference's consecutive-record edge with properties
  * (/root/reference/src/GraphBuilder.jl:109-111) generalized to typed
  * predicates.
  */
final case class RawTriple(
    subj: Long,
    pred: String,
    obj: Long,
    conv_id: String,
    turn_idx: Int
)

/** An undirected same-entity link edge produced by the scoring join
  * (graft of the Fréchet-accepted window match,
  * /root/reference/src/OverlappingSegmentsUtils.jl:173-209).
  */
final case class LinkEdge(src: Long, dst: Long, score: Double)

/** Canonical property-graph vertex (north_star output contract). */
final case class VertexRow(
    entity_id: Long,
    `type`: String,
    aliases: Seq[String]
)

/** Canonical property-graph edge with provenance (north_star contract). */
final case class EdgeRow(
    subj: Long,
    pred: String,
    obj: Long,
    conv_id: String,
    turn_idx: Int
)
