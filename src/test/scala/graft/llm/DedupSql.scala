package graft.llm

/** Spark SQL text of near-dup dedup written the exploded way — one row per
  * (doc, shingle), minhashes as grouped `min`s, bands as `stack` of `concat_ws`,
  * Jaccard from a shingle equi-join — as the independent reference the array
  * kernel in [[Dedup]] is checked against. `docs` names a view with a bigint
  * `doc_id` and a string `text`. */
object DedupSql {

  /** CTEs `toks` and `shing`: each document's distinct word 3-shingles, from
    * lowercased letter/digit runs. */
  private def shingles(docs: String): String =
    raw"""toks AS (
         |  SELECT doc_id,
         |    filter(split(lower(text), '[^\\p{L}\\p{N}]+'), t -> length(t) > 0) AS tk
         |  FROM $docs),
         |shing AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id, explode(transform(sequence(0, size(tk) - 3),
         |      i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))) AS shingle
         |    FROM toks WHERE size(tk) >= 3))""".stripMargin

  /** CTE `jacc` over a CTE `pairs (id1, id2)`: shared-shingle count, set sizes
    * and Jaccard; a pair whose document has no shingle has no row. */
  private val jaccardOfPairs =
    """sz AS (SELECT doc_id, count(*) AS sz FROM shing GROUP BY doc_id),
      |inter AS (
      |  SELECT p.id1, p.id2, count(*) AS n
      |  FROM pairs p
      |  JOIN shing s1 ON s1.doc_id = p.id1
      |  JOIN shing s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
      |  GROUP BY p.id1, p.id2),
      |jacc AS (
      |  SELECT p.id1, p.id2, coalesce(i.n, 0) AS n_shared, z1.sz AS sz1, z2.sz AS sz2,
      |    CAST(coalesce(i.n, 0) AS DOUBLE) / (z1.sz + z2.sz - coalesce(i.n, 0)) AS jaccard
      |  FROM pairs p
      |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
      |  JOIN sz z1 ON z1.doc_id = p.id1
      |  JOIN sz z2 ON z2.doc_id = p.id2)""".stripMargin

  /** `(id1, id2, n_shared, sz1, sz2, jaccard)` of every row of the `pairs` view. */
  def jaccard(docs: String, pairs: String): String =
    s"""WITH ${shingles(docs)},
       |pairs AS (SELECT id1, id2 FROM $pairs),
       |$jaccardOfPairs
       |SELECT id1, id2, n_shared, sz1, sz2, jaccard FROM jacc""".stripMargin

  /** LSH candidate pairs `(id1, id2)`: minhash i of a document is
    * `min(h1 + i·h2)` over its shingles, h1 and h2 the md5 hex nibbles 1–7 and
    * 8–14; band b joins hashes `b·bandSize ..` with `'|'`; candidates share a
    * (band, sig) bucket. */
  def candidates(docs: String, numHashes: Int, bandSize: Int): String =
    s"WITH ${candidateCtes(docs, numHashes, bandSize)}\nSELECT id1, id2 FROM pairs"

  /** `doc_id`s of the higher id of every candidate pair with Jaccard at least
    * `minJaccard`: what the `minhash-dedup` op drops. */
  def victims(docs: String, numHashes: Int, bandSize: Int, minJaccard: Double): String =
    s"""WITH ${candidateCtes(docs, numHashes, bandSize)},
       |$jaccardOfPairs
       |SELECT DISTINCT id2 AS doc_id FROM jacc WHERE jaccard >= $minJaccard""".stripMargin

  private def candidateCtes(docs: String, numHashes: Int, bandSize: Int): String = {
    val nBands = numHashes / bandSize
    val mh = (0 until numHashes).map(i => s"min(h1 + $i * h2) AS mh$i").mkString(", ")
    val bands = (0 until nBands).map { b =>
      s"$b, concat_ws('|', ${(0 until bandSize).map(j => s"mh${b * bandSize + j}")
        .mkString(", ")})"
    }.mkString(", ")
    s"""${shingles(docs)},
       |mh AS (
       |  SELECT doc_id, $mh FROM (
       |    SELECT doc_id,
       |      CAST(conv(substring(md5(shingle), 1, 7), 16, 10) AS BIGINT) AS h1,
       |      CAST(conv(substring(md5(shingle), 8, 7), 16, 10) AS BIGINT) AS h2
       |    FROM shing)
       |  GROUP BY doc_id),
       |banded AS (SELECT doc_id, stack($nBands, $bands) AS (band, sig) FROM mh),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id < b.doc_id)""".stripMargin
  }
}
