package graft

/** Frozen golden digests (SURVEY.md §5.2 item 1). Regenerate by running
  * the suite with -Dgraft.golden.hash=PRINT and copying the reported
  * value — a deliberate act, reviewed like any contract change. */
object GoldenHashes {
  val TinyExtractDigest =
    "f47e3354bf368cbeb1b3acd3972f6bd00a985fa4f25896b8eb21ee17afafa9e7"
  /** Engine.Both over the same tiny fixture — freezes the dual-engine
    * concat format (no separator between engines, per-part headers). */
  val DualExtractDigest =
    "15e21ef0b540287f8b12b26c1b64422f5d3045f366ffbbabb0da87ca37ecabd5"
  /** PathDigestSpec: Engine.Alt (url, text, error, spans) over ids
    * 0..199. */
  val AltExtractDigest =
    "406aeba25eb20273d5ca3074b9bc4dee84812cc09dfec4847aeaa39a404fc03c"
  /** PathDigestSpec: Engine.Both spans over the same ids (text and
    * error are DualExtractDigest's). */
  val DualSpansDigest =
    "6edea16851d41f6aa3ae9c3efc770b56b5f5b809eb235d63f90e65c476f87d5e"
  /** PathDigestSpec: all seven graft_explode_blocks columns over the
    * same payloads. */
  val ExplodeBlocksDigest =
    "e5c705964654b69c98c8d12ecaee02fdf0d91b330ad9b6bd38ec2213e4e1b115"
}
