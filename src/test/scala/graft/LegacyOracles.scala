package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference formulations the fused codegen kernels replaced, kept
  * verbatim as parity oracles: [[pairsOfLegacy]] for
  * [[graft.operators.PairKernels]] (PairKernelsParitySpec), the two SQL
  * strings for [[graft.operators.EditKernels]] (EditDistanceFuzzSpec).
  * Not on any query path. */
object LegacyOracles {

  /** The pre-r18 formulation, kept VERBATIM as the parity oracle for
    * PairKernelsParitySpec — THE one place the subtle
    * 0-based-transform-index into 1-based-slice enumeration lives
    * (`i + 2` skips x itself). Not on any query path. */
  private[graft] def pairsOfLegacy(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("_1"), y.as("_2")))))

  /** The legacy HOF formulation of [[editProbe]]'s signature array,
    * kept verbatim as the parity oracle for the fused kernel
    * (EditDistanceFuzzSpec compares them element-for-element). */
  private[graft] val legacyProbeSigsSql: String =
    """array_distinct(transform(
      |  filter(
      |    flatten(transform(
      |      array(named_struct('dl', -2, 'sh', 0),
      |            named_struct('dl', -2, 'sh', 1),
      |            named_struct('dl', -2, 'sh', 2),
      |            named_struct('dl', -1, 'sh', 0),
      |            named_struct('dl', -1, 'sh', 1),
      |            named_struct('dl',  0, 'sh', -1),
      |            named_struct('dl',  0, 'sh', 0),
      |            named_struct('dl',  0, 'sh', 1),
      |            named_struct('dl',  1, 'sh', -1),
      |            named_struct('dl',  1, 'sh', 0),
      |            named_struct('dl',  2, 'sh', -2),
      |            named_struct('dl',  2, 'sh', -1),
      |            named_struct('dl',  2, 'sh', 0)), ds ->
      |      transform(sequence(0, 2), i -> named_struct(
      |        'ls', CAST(l + ds.dl AS INT),
      |        'i', CAST(i AS INT),
      |        'st', CAST(i * ((l + ds.dl) div 3)
      |          + greatest(0, i - (3 - (l + ds.dl) % 3)) + ds.sh AS INT),
      |        'ln', CAST(((l + ds.dl) div 3)
      |          + IF(i >= 3 - (l + ds.dl) % 3, 1, 0) AS INT))))),
      |    s -> s.st >= 0 AND s.ln >= 1 AND s.st + s.ln <= l
      |         AND s.ls >= 9),
      |  s -> named_struct('ls', s.ls, 'i', s.i,
      |    'seg', substring(p_name, s.st + 1, s.ln))))""".stripMargin

  /** Legacy index-side segment array ([[legacyProbeSigsSql]]'s sibling
    * parity oracle for [[graft.operators.EditKernels.segments]]). */
  private[graft] val legacySegmentsSql: String =
    """transform(sequence(0, 2), i -> named_struct(
      |  'i', CAST(i AS INT),
      |  'seg', substring(p_name,
      |    CAST(i * (l div 3) + greatest(0, i - (3 - l % 3)) + 1 AS INT),
      |    CAST((l div 3) + IF(i >= 3 - l % 3, 1, 0) AS INT))))""".stripMargin
}
