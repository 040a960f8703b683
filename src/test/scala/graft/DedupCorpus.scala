package graft

/** Nine short documents shared by the set-similarity join, MinHash-store
  * and bloom cross-dedup specs. */
object DedupCorpus {
  // hot token "the" in every doc (floods prefixes when df-rare tokens
  // run out), exact duplicates, one-token edits, disjoint docs, and a
  // length spread so the length/position filters are all exercised
  val docs: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over a lazy dog near the old river bank today",
    2L -> "the quick brown fox jumps over a lazy dog near the old river bank today",
    3L -> "the quick brown fox jumps over a lazy dog near the old river bank now",
    4L -> "the slow green turtle walks under a busy bridge by the new harbor wall",
    5L -> "the slow green turtle walks under a busy bridge by the new harbor gate",
    6L -> "the tiny doc",
    7L -> "the tiny doc",
    8L -> "completely different words entirely unrelated content here about nothing shared at all",
    9L -> "the quick brown fox jumps over a lazy dog near the old river bank today extra tail words appended here"
  )
}
