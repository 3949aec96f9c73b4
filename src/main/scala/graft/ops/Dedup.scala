package graft.ops

/** Deduplication operators for LLM-training-data pipelines (builder brief).
  *
  * Scale design:
  *  - Exact dedup is a hash groupBy on the normalized text — one shuffle,
  *    map-side combined ([[exactDedup]]).
  *  - Near-dup avoids the O(n²) pairwise wall via MinHash-LSH banding: only
  *    documents sharing a band bucket are candidate pairs; candidates are
  *    then verified with exact Jaccard. Skewed buckets (boilerplate shingle
  *    sets): on the asymmetric incremental band join
  *    ([[minHashNearDupAgainst]] — small batch × large corpus) AQE
  *    skew-join splitting handles the hot corpus partitions
  *    (ScaleOpsSpec pins the skew=true marker). On the SYMMETRIC
  *    self-join the hot bucket is skewed on BOTH sides, which AQE cannot
  *    split (splitting requires replicating a non-skewed other side) —
  *    there the mitigation is pipeline ordering: collapse exact
  *    duplicates first ([[exactDedup]], as
  *    q97's curation does), so identical boilerplate never reaches
  *    banding, and the size/estimate prefilters keep the surviving
  *    candidate verify narrow.
  *  - SimHash near-dup uses 16-bit band keys over the 64-bit signature —
  *    hamming distance ≤ 3 guarantees ≥1 of 4 bands collide exactly
  *    (pigeonhole), so banding loses no true pairs.
  */object Dedup
  extends DedupMinHash
  with DedupJaccardJoin
  with DedupComponents
  with DedupDecontaminate
  with DedupEmbedding
  with DedupSubstring
