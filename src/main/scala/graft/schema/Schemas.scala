package graft.schema

import java.sql.Timestamp

/** Canonical row types for the KG-construction pipeline.
  *
  * Input shape is the task's `input_hint`: an Iceberg/Parquet table of
  * multi-turn conversation / agent transcripts. Reference analogs (see
  * /root/reference): `file_id` -> conv_id, AST-walk order -> turn_idx
  * (package/call_graph.py:388-435), commit authored_datetime -> ts
  * (package/function_versioning.py:197).
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One mention extracted from one turn's text.
  *
  * Mirrors the reference's four per-file mention tables
  * (package/call_graph.py:50-56): entity_def ~ function definition,
  * alias_binding ~ `import x as y`, relation ~ call expression.
  * `mention_idx` is the segment position inside the turn text, so
  * (conv_id, turn_idx, mention_idx) is a stable natural key — this replaces
  * the reference's global mutable ID counters (call_graph.py:44-48), which
  * are order-dependent and single-threaded by construction.
  *
  * Absent fields are empty strings, never null (simplifies set-equality
  * comparison with oracles).
  */
case class Mention(
    conv_id: String,
    turn_idx: Int,
    mention_idx: Int,
    kind: String, // entity_def | alias_binding | relation
    subj: String, // entity_def: name; alias_binding: alias; relation: subject ref
    pred: String, // relation: predicate; else ""
    obj: String, // alias_binding: target name; relation: object ref; else ""
    attr: String, // entity_def: state payload (version-chain input); else ""
    ts: Timestamp,
    parent: String = "", // entity_def: container/base entity (extends); else ""
    hop: Int = 0) // chain segments fan out to hops 0..n; 0 otherwise

/** A relation mention with both endpoints resolved to canonical names
  * (the output of the precedence-chain resolver, reference
  * package/call_graph.py:703-749): one row of the committed `resolved`
  * table, from the batch and the streaming resolver alike. `hop` keeps
  * the two relations of a chain segment apart, so
  * (conv_id, turn_idx, mention_idx, hop) is its key. It carries no `ts`:
  * no consumer of `resolved` reads one. */
case class ResolvedRelation(
    conv_id: String,
    turn_idx: Int,
    mention_idx: Int,
    hop: Int,
    subj: String,
    pred: String,
    obj: String)

/** Unified node row — the Neo4j materialization shape
  * (package/knowledge_graph.py:542,561-589: global_id = "{LABEL}:{id}"). */
case class Node(node_type: String, node_id: Long, canonical_name: String)

/** Unified edge row. */
case class Edge(
    edge_type: String,
    src_type: String,
    src_id: Long,
    dst_type: String,
    dst_id: Long,
    conv_id: String,
    turn_idx: Int)

/** Per-stage, per-partition lineage row (north-rule requirement), as
  * StageStore.commit records it: `partition_id` is the writer partition
  * of a committed part file (`part-NNNNN`), `output_rows` that
  * partition's rows from the file footers, `wall_ms` the commit's wall
  * time. */
case class Lineage(
    stage: String,
    partition_id: Int,
    output_rows: Long,
    wall_ms: Long)

/** Per-stage metric row. */
case class Metric(stage: String, name: String, value: Double)
