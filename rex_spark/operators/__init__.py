"""DataFrame -> DataFrame operator stages.

Design rules (enforced across the subpackage):
- declare minimal input schemas before any pandas UDF so Catalyst can
  prune columns down to the parquet scan;
- filters happen BEFORE Python crossings (predicates do not push
  through Python UDFs);
- every join with a small side is broadcast; every big self-join is
  expressed as one shuffle (groupBy + in-partition expansion) instead
  of two-sided shuffle joins where semantics allow;
- no .collect() in any operator — driver-side code only in metrics
  summarization and tests.
"""
