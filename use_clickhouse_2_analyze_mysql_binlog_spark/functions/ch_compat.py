"""ClickHouse SQL dialect translation: run a reference user's CH SQL on Spark.

The reference's entire query surface is ClickHouse SQL strings
(``compute_transaction_info.py:53-66,78-91,103-116``; MV selects
``README.md:174-184,229-245``). A migrating user brings those strings, not
DataFrame code — so the engine ships a textual dialect translator covering
the CH constructs the reference (and everyday CH analytics) uses, mapped
onto Spark SQL equivalents that stay entirely JVM-side:

- type-conversion functions -> Spark cast-alias functions
  (``toUInt32(x)`` -> ``bigint(x)`` — cast aliases inline into codegen);
- ``argMax/argMin`` -> ``max_by/min_by`` (identical semantics incl.
  nondeterministic ties);
- parametric aggregates ``quantile(p)(x)`` -> ``percentile(x, p)``;
  behavioral parametric aggregates: ``windowFunnel(W)(ts, c1, c2, ..)``
  -> the engine's documented anchored-greedy automaton as an inline
  JVM-side ``aggregate`` fold (same contract as the native
  ``window_funnel`` operator; CH mode flags stay loud),
  ``retention(c1, .., cn)`` -> ``array(int(bool_or(c1)), int(bool_or(c1)
  AND bool_or(ci)), ..)`` (exact CH semantics), ``uniqUpTo(N)(x)`` ->
  ``least(count(DISTINCT x), N + 1)`` (exact),
  ``sequenceMatch/sequenceCount('(?i).*(?j)..')(ts, c1, ..)`` ->
  greedy-subsequence bitmap folds for ``.*``-separated references, and
  (round 8) a regex-over-encoded-event-cells path for STRICT ADJACENCY
  ``(?i)(?j)`` patterns — adjacency over the tracked sequence per CH's
  documented contract, with real regex backtracking; ``(?t..)`` stays
  loud — ``topK(N)(x)`` -> exact top-N-by-frequency array
  (deterministic value-asc ties), ``topKWeighted(N)(x, w)`` -> the
  same fold ranked by total weight, ``sumMap/minMap/maxMap(k, v)`` ->
  per-key fold returning ``struct(keys, values)`` sorted by key,
  ``boundingRatio`` -> the max_by/min_by slope form, ``anyHeavy`` ->
  ``mode``;
- conditional aggregates (``countIf``, ``sumIf``, ``avgIf``,
  ``anyIf/anyLastIf``, ``argMaxIf/argMinIf`` via NULLed ordering keys);
- ``-Array`` combinators (``sumArray/minArray/maxArray/avgArray`` over
  all elements, ``uniq(Exact)Array`` exact distinct,
  ``groupArrayArray``/``groupUniqArrayArray`` flattens),
  ``sumDistinct``, ``sumCount`` -> ``struct(sum, count)``;
- ``uniq``/``uniqExact`` -> ``approx_count_distinct``/``count(DISTINCT)``
  (preserving the approximate-vs-exact contract);
- the CH DateTime-difference idiom ``max(ts) - min(ts)`` (CH DateTime
  subtraction yields SECONDS as an integer; Spark yields an interval) ->
  ``unix_timestamp`` difference, applied to known timestamp columns;
- ``db.table`` qualified names -> registered view names, ``FINAL``
  dropped (rollups here are fully merged — stronger than CH's read-time
  merge contract, same answers), ``SETTINGS``/``FORMAT`` clauses dropped
  (two-level/distributed-agg settings are Catalyst's job) — EXCEPT the
  result-changing settings (explicit ``join_use_nulls=0``,
  ``any_join_distinct_right_table_keys=1``,
  ``aggregate_functions_null_for_empty=1``,
  ``empty_result_for_aggregation_by_empty_set=1``) which fail loudly.
  Standing narrowing: translated outer joins use ANSI NULL fills
  (= ``join_use_nulls=1``); CH's default 0 fills type defaults;
- ``LIMIT n BY exprs`` (the reference's top-1-per-group family) -> a
  ``row_number`` window subquery (``_rewrite_limit_by`` for the subset);
- relative-time arithmetic ``now() - 3600`` / ``ts_col + 60`` (CH
  DateTime ± integer = seconds) -> ``timestampadd(SECOND, ...)``;
- ``toStartOfWeek`` (Sunday/Monday modes) and ``formatDateTime``
  (MySQL-style ``%`` tokens -> Java patterns, ``_CH_DATETIME_FORMAT``);
- ``PREWHERE`` folded into ``WHERE`` (Spark's parquet predicate pushdown
  IS the scan-stage filtering PREWHERE hand-implements);
- ``any``/``anyLast`` -> ``any_value`` (same nondeterministic contract;
  Spark's bare ``any()`` is bool_or, so the rename is also a guard);
- date-part extractors (``toYear``..``toSecond``; ``toDayOfWeek`` with
  all four CH modes via ``weekday``/``dayofweek`` arithmetic — Monday=1
  default), ``toStartOfQuarter/Year``,
  ``toUnixTimestamp``/``fromUnixTimestamp``;
- date arithmetic: ``addDays``/``subtractHours``-family ->
  ``timestampadd``, ``dateDiff`` -> ``timestampdiff`` over
  unit-truncated operands (CH counts boundary CROSSINGS, not elapsed
  units), ``toIntervalX`` -> ``make_interval`` (the reference's own TTL
  uses ``toIntervalMonth``, README.md:117); CH 1-based array subscripts
  shift to Spark's 0-based in postfix position (``arr[0]`` fails loudly
  — no Spark equivalent);
- string surface: ``splitByChar`` (swapped args, ``\\Q``-quoted separator
  so regex metachars split literally), ``match`` -> RLIKE, 2-arg
  ``position`` -> ``instr``, 3-arg ``position(h, n, start)`` ->
  ``locate(n, h, start)`` (the SQL-standard ``position(x IN y)`` passes
  through), ``startsWith/endsWith``, ``leftPad/rightPad``, the ``*UTF8``
  aliases, ``ifNull/nullIf/assumeNotNull``;
- higher-order array functions ``arrayMap/Filter/Exists/All/Count``
  (lambda-first in CH -> array-first in Spark; two-array ``arrayMap``
  -> ``zip_with``; three-plus arrays -> ``transform`` over
  ``arrays_zip`` with lambda-parameter substitution — column-reference
  arrays without nested lambdas only, else loud), ``[..]`` array
  literals -> ``array(..)``;
- ``[LEFT] ARRAY JOIN arr AS x`` clause -> ``LATERAL VIEW [OUTER]
  explode(arr) AS x`` (exact multiplicity incl. the empty-array NULL row
  of LEFT); the no-alias in-place form keeps the column NAME with the
  element value (bare references re-qualified through the lateral
  alias), and the lockstep multi-array form zips via right-folded
  ``zip_with`` into one exploded struct whose field accesses restore
  the aliases as output names — bare-star select lists, qualified
  references to an in-place column, computed in-place expressions and
  colliding element names fail loudly;
- ``GLOBAL`` join/IN distribution hints dropped (Spark's planner owns
  broadcast-vs-shuffle); ``ANY LEFT/INNER JOIN`` strictness -> the right
  side deduped to one row per join key (``row_number() = 1`` subquery —
  CH's any-pick is arbitrary, so Spark's first-per-key is inside the
  contract), both keyword orders, ``USING`` and simple equi-``ON``;
  ``ASOF [LEFT] JOIN`` -> the right side augmented with a per-key
  lead/lag neighbor of the asof column + an equi+range join (closest
  match as an interval hit — at most one right row per left row, no
  left-row id needed; one exchange per side, reused by the sort-merge
  join); ``ANY RIGHT/FULL`` (left-side dedup needs the whole FROM
  context; CH itself deprecated these behind
  ``any_join_distinct_right_table_keys`` — the loud message's
  swap-the-tables advice is also CH's own migration path), non-equi
  ANY ``ON`` and ASOF under a bare-star select list still fail loudly
  — they change row multiplicity or schema in ways a local rewrite
  can't express. ASOF ``USING (keys..., t)`` translates: the right
  side's USING columns are RENAMED inside the augmented subquery, so
  unqualified outer references resolve to the left side alone — CH's
  coalesced-USING output for LEFT/INNER; right-qualified refs to a
  USING column fail loudly in the analyzer;
- CH scalar ``WITH const AS name`` aliases inlined (Spark WITH is
  CTE-only; non-constant items pass through), ``SAMPLE <fraction>`` ->
  ``TABLESAMPLE (pct PERCENT)`` (row-count parity; both sample
  non-deterministically);
- JSON extraction: ``JSONExtractString/Int/UInt/Float/Bool``,
  ``visitParamExtract*``, ``JSONHas`` -> ``get_json_object`` with a
  ``$.a.b[i]`` path (+casts) — compound paths from CH's variadic
  string-key / 1-based-integer-index elements; ``JSONExtractRaw``
  round-trips through Spark 4's VARIANT so string scalars keep their
  quotes (raw-token contract), missing/malformed -> CH's ``''``;
- standard-SQL names CH resolves case-insensitively whose bypass would
  be silently wrong in Spark (``POSITION`` arg roles, ``ANY`` ->
  bool_or) are normalized to the rewritten lowercase spelling first;
- round-6 everyday surface: array editing/picking (``arraySlice/Uniq/
  With Constant/Push*/Pop*/First/Last/FirstIndex``, ``hasAll/hasAny``,
  ``arrayFlatten/Concat/Min/Max/Zip/Intersect``), ``splitByString``/
  ``alphaTokens``, regexp ``extract/extractAll`` (capture-group-aware
  from the literal pattern; ANSI ``extract(unit FROM ts)`` passes
  through) and ``replaceAll/replaceRegexpAll`` (``\\N`` backrefs ->
  ``$N``), binary-exact ``MD5/SHA256`` (raw bytes via ``unhex``),
  ``base64Encode/Decode``, bit ops, ``toMonday``, round-7 everyday
  batch: ``arrayCompact/Sum/Avg/Product/ReverseSort/Enumerate/Resize``
  (numeric folds accumulate in DOUBLE), ``countEqual``, ``exp2``,
  ``bitTest``, ``splitByWhitespace``/``tokens``/``ngrams``,
  ``multiSearchAny``/``positionCaseInsensitive``/``countSubstrings``,
  ``formatReadableSize``, ``isFinite/isInfinite/ifNotFinite``,
  ``tuple``->``struct`` + ``tupleElement`` (index or literal name),
  ``emptyArray*``, ``toRelativeDayNum``, ``toNullable``,
  ``xxHash64``/``reverseUTF8``, ``lagInFrame/
  leadInFrame``, moment aggregates (``stddevPop``-family, ``skewPop/
  kurtPop``), ``median/medianExact/avgWeighted``, ``JSONExtractKeys``,
  and the 64-bit hash role-matches ``sipHash64/cityHash64/farmHash64``
  -> ``xxhash64`` (persisted-value contract as ``halfMD5``); also
  ``countDistinct`` -> ``count(DISTINCT ..)``, ``notILike``,
  ``arrayDifference`` (zip-with-shifted, empty-safe), the legacy
  ``uniqHLL12``/``uniqCombined64`` approx aliases, ``age`` (elapsed
  complete units — Spark's native ``timestampdiff``, vs ``dateDiff``'s
  boundary crossings), ``timeSlot``/``toStartOfTen/FifteenMinutes``,
  ``monthName``, ``toISOWeek``, ``dateName`` (literal parts),
  ``toRelativeHour/Minute/SecondNum``, ``greatCircleDistance``
  (6371 km-sphere haversine; ``geoDistance``'s ellipsoid variant stays
  loud), ``formatReadableDecimalSize``, ``toUUIDOrNull``,
  ``extractGroups`` (literal pattern -> enumerated ``regexp_extract``
  per capture group, empty array on no match; non-literal patterns
  loud), round-8 everyday batch: ``isNaN`` (NULL-propagating),
  ``translateUTF8``, ``toUUID`` (validated + lowercased like its
  OrNull twin; malformed loud), ``now64`` (precision AND timezone
  args dropped — session-tz rendering, documented narrowing),
  ``mapFilter``/``mapUpdate`` (single-bound m2-precedence composition
  around ``map_concat``'s duplicate-key error),
  ``IPv4NumToString/IPv4StringToNum`` (single-bound; malformed IPv4
  loud like CH's throw), ``regexpQuoteMeta``,
  ``arrayCumSumNonNegative`` (clamp-at-zero fold, NULL-propagating
  like its sibling), ``simpleLinearRegression`` -> a ``.1``/``.2``-
  accessible ``(k, b)`` struct, ``entropy`` (Shannon bits, exact
  row-local frequency fold — same policy as ``topK``),
  ``randUniform/randNormal``, the ``simpleJSON*`` aliases of
  ``visitParam*``; round-9 everyday batch: ``isIPv4String``,
  ``netloc`` (parse_url AUTHORITY), ``cutQueryString``/
  ``cutFragment``/``cutQueryStringAndFragment``,
  ``arrayPartialSort`` (full sort — a valid instance of the contract),
  ``arrayRotateLeft/Right``, ``arrayShuffle``,
  ``formatReadableQuantity``, ``quantileGK/quantilesGK`` ->
  ``approx_percentile`` (the same Greenwald-Khanna sketch),
  ``bar`` (eighth-block bands), ``JSONArrayLength``,
  ``currentDatabase/currentUser``, ``deltaSumTimestamp`` (positive
  consecutive deltas in ts order; bare ``deltaSum`` is part-order-
  dependent in CH and stays loud); ``sleep/sleepEachRow`` loud
  (wall-clock side effect); round-9 second batch: numeric
  ``trunc/truncate`` (Spark's trunc is date-only), ``exp10``,
  ``roundDuration/roundAge`` breakpoint rounders, ``kurtPop`` -> Spark
  kurtosis + 3 (CH is RAW m4/sigma^4, Spark is EXCESS — the old rename
  was silently 3 low), ``skewSamp/kurtSamp`` (sample-variance forms:
  pop * ((n-1)/n)^(k/2)), ``groupBitmap`` -> ``count(DISTINCT)``,
  ``timestampAdd/Sub``, ``makeDate`` (both arities)/``makeDate32``/
  ``makeDateTime``, ``toISOYear/toStartOfISOYear`` (Thursday-of-week
  arithmetic), ``toYYYYMMDDhhmmss``, ``toRelativeYear/MonthNum``,
  ``parseDateTime[OrNull]`` (the %-token table shared with
  ``formatDateTime``), ``parseDateTimeInJodaSyntax[OrNull]``,
  ``snowflakeToDateTime[64]/dateTime[64]ToSnowflake``,
  ``editDistance/levenshteinDistance`` -> ``levenshtein``,
  ``initcapUTF8``, ``leftPadUTF8/rightPadUTF8`` -> ``lpad/rpad``
  (character-counting = the UTF8 contract), ``replaceOne``
  (first-occurrence splice), ``appendTrailingCharIfAbsent``,
  ``toDecimalString`` (literal scale <= 37), the ``multiSearch*`` trio
  (AllPositions/FirstPosition/FirstIndex), ``topLevelDomain``
  (digit-guarded)/``extractURLParameters/Names``/
  ``queryStringAndFragment``, ``mapAdd/mapSubtract`` (Map-typed,
  key-wise typed-zero fold like the sumMap states)/
  ``mapContainsKeyLike``/``mapPopulateSeries``, ``arrayElementOrNull``
  -> ``try_element_at`` (index-0-safe), ``bitTestAll/bitTestAny``,
  ``bitmaskToArray/bitmaskToList/bitPositionsToArray`` (bits 0..62),
  ``ignore`` -> 0, ``toTypeName`` -> ``typeof`` (THIS engine's names),
  ``isZeroOrNull``, ``mapExists/mapAll`` (the user's (k, v) lambda
  passes through verbatim via ``map_filter``), ``mapApply`` (literal
  tuple lambdas rewritten over ``map_entries``; other shapes loud),
  ``arrayEnumerateUniq/Dense`` (row-local prefix scans, single-array
  forms), ``hasSubstr``, ``firstSignificantSubdomain/
  cutToFirstSignificantSubdomain`` (effective-TLD shortlist — CH
  embeds a full public-suffix list, documented narrowing), the whole
  URL family moved to ``try_parse_url`` (Spark 4 ANSI ``parse_url``
  THROWS on malformed input, silently breaking the documented
  NULL-on-invalid contract), ``URLHierarchy/URLPathHierarchy``
  (cumulative prefixes; last entry carries query+fragment),
  ``tryBase64Decode`` ('' on malformed like CH), ``splitByRegexp``;
  the block/insertion-order-dependent family
  (``runningDifference/runningAccumulate/neighbor/rowNumberIn*/
  blockNumber/exponentialMovingAverage/groupArrayMoving*/
  groupArrayLast/groupArrayInsertAt/groupArraySample``) stays loud
  with per-function window-rewrite hints; round-7 second batch: the
  ``to<T>OrNull``/``to<T>OrZero`` conversion families (exactly ANSI
  ``try_cast`` / ``coalesce(try_cast, default)``), ``toDecimal32/64/
  128`` (precision from the CH width), the URL family (``protocol/
  domain/domainWithoutWWW/path/pathFull/queryString/fragment/
  extractURLParameter`` -> ``parse_url`` parts — absolute URLs only,
  CH also accepts scheme-less; ``decodeURLComponent/encodeURLComponent``
  -> ``url_decode/url_encode``), 3-arg ``date_add/dateAdd/date_sub/
  dateSub(unit, n, ts)`` -> ``timestampadd`` (+ the 2-arg INTERVAL
  form -> ``+/-``; Spark's own 2-arg days form passes through),
  ``dayName``, the ``positionUTF8`` aliases, ``toLastDayOfMonth`` ->
  ``last_day``, ``roundBankers`` -> ``bround``, ``arrayElement`` ->
  ``element_at`` (both 1-based, negative-from-end in both),
  ``mapKeys/mapValues/mapContains/mapFromArrays``, ``groupBitAnd/Or/
  Xor`` -> ``bit_and/bit_or/bit_xor``, ``countMatches`` ->
  ``regexp_count``, ``generateUUIDv4`` -> ``uuid``,
  ``parseDateTimeBestEffort[OrNull]`` -> ``to_timestamp``/
  ``try_to_timestamp`` (ISO-ish core formats), ``intHash32/64`` ->
  ``xxhash64`` (role match, as the hash family above), CH ``round`` ->
  ``bround`` (CH is banker's on floats — the passthrough was silently
  wrong on halves; Decimal away-from-zero narrowing documented),
  ``transform(x, [from], [to][, default])`` -> a ``CASE x WHEN`` chain
  (the enum-decode idiom; Spark's 2-arg HOF form passes through),
  ``arrayFold`` -> ``aggregate`` (arg reorder), ``arrayReduce`` for the
  everyday aggregate names, ``arrayCumSum`` (row-local O(n^2) prefix
  re-aggregation — no scan HOF in Spark), ``substringIndex``,
  function-form ``CAST(x, 'Type')`` and CH type names in ``CAST(x AS
  Type)`` (UInt*/DateTime[64]/Nullable/LowCardinality/Decimal widths/
  Array — mapped via ``_ch_type_to_spark``; unknown CH types loud),
  ``accurateCast`` -> ``CAST`` (both throw) / ``accurateCastOrNull`` ->
  ``try_cast``,
  ``GROUP BY .. WITH TOTALS`` ->
  ``GROUPING SETS ((keys), ())`` (totals-row keys are NULL in Spark vs
  CH's type defaults — detect with ``grouping()``), and the
  ORM-generated operator-function aliases: arithmetic
  (``plus/minus/multiply/divide/negate``, ``intDivOrZero/moduloOrZero``),
  comparisons (``equals/notEquals/less/greater/lessOrEquals/
  greaterOrEquals``), and variadic ``and``/``or`` + ``not`` (the
  one-argument ``and (..)`` parse is SQL's infix keyword and passes
  through).

This is a deliberate TEXTUAL translator for the documented subset, not a
CH grammar: constructs outside the table raise nothing and pass through,
so valid-ANSI remainders still run, and unknown CH-isms fail loudly in
Spark's parser rather than silently changing semantics.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import stats as _stats

# CH function -> Spark function, pure renames (argument lists unchanged).
# NOTE: toUInt64 is NOT here — it needs the full unsigned range and
# rewrites to cast(.. AS decimal(20,0)) below (same rationale as the
# to*Or* family, ADVICE r07 #3 / round-8 review).
_RENAMES = {
    # round-8 everyday batch: exact-same-semantics renames.
    # isNaN is NOT a rename: Spark isnan(NULL) = false where CH
    # propagates NULL — rewritten with a NULL guard below.
    # translateUTF8 is NOT a rename: Spark's translate silently DELETES
    # unmatched chars when 'to' is shorter than 'from' where CH throws a
    # length-mismatch error — guarded rewrite below (ADVICE r09 #2).
    # round-10 everyday batch: exact-same-semantics renames.
    "isValidUTF8": "is_valid_utf8",  # both: byte-sequence validity
    "randCanonical": "rand",  # both: uniform [0, 1) Float64
    # sumKahan -> plain sum: DOCUMENTED NARROWING — CH promises
    # compensated (Kahan) summation; Spark's double sum is ordinary
    # fp accumulation, so the last ulps may differ on pathological
    # cancellation (the VALUE contract — sum of the group — is the same)
    "sumKahan": "sum",
    # round-9 everyday batch: exact-same-semantics renames.
    "arrayShuffle": "shuffle",  # both: uniform random permutation
    "JSONArrayLength": "json_array_length",  # both: NULL on non-array
    "currentDatabase": "current_database",
    "currentUser": "current_user",
    "toUInt32": "bigint",
    "toInt64": "bigint",
    "toInt32": "bigint",
    "toUInt8": "int",
    "toInt8": "int",
    "toFloat64": "double",
    "toFloat32": "float",
    "toString": "string",
    "toDateTime": "timestamp",
    "toDate": "to_date",
    "argMax": "max_by",
    "argMin": "min_by",
    "countIf": "count_if",
    "uniq": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqCombined64": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "uniqTheta": "approx_count_distinct",
    "anyHeavy": "mode",  # heavy-hitter pick -> exact most-frequent
    "halfMD5": "xxhash64",  # 64-bit string hash; value differs, role matches
    "materialize": "",  # identity wrapper
    "has": "array_contains",
    "indexOf": "array_position",
    "lcase": "lower",
    "xxHash64": "xxhash64",  # same documented contract as halfMD5 above
    "reverseUTF8": "reverse",
    "toNullable": "",  # identity wrapper (all Spark types are nullable)
    "tuple": "struct",  # field names col1, col2... match CH 1-based idx
    "ucase": "upper",
    # arrays: explode covers the single-arrayJoin-per-SELECT case (several
    # per SELECT fail loudly in Spark's analyzer, per the pass-through
    # contract); the group* aggregates map to collect_*
    "arrayJoin": "explode",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "arrayDistinct": "array_distinct",
    "arraySort": "sort_array",
    "arrayReverse": "reverse",
    # any/anyLast: CH "some value from the group" aggregates. Spark's
    # any_value has the identical non-deterministic contract; Spark's
    # bare any() is bool_or and would reject non-boolean args, so the
    # rename is also a correctness guard.
    "any": "any_value",
    "anyLast": "any_value",
    # date-part extractors (identical 1-based semantics; toDayOfWeek is
    # NOT here — CH is Monday=1, Spark dayofweek is Sunday=1, handled as
    # a restructured rewrite below)
    "toYear": "year",
    "toQuarter": "quarter",
    "toMonth": "month",
    "toDayOfMonth": "day",
    "toDayOfYear": "dayofyear",
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
    "toUnixTimestamp": "unix_timestamp",
    "toISOWeek": "weekofyear",  # both ISO-8601 week numbering
    # fromUnixTimestamp returns DateTime in CH; Spark's from_unixtime
    # returns a formatted STRING, so timestamp_seconds is the honest map
    "fromUnixTimestamp": "timestamp_seconds",
    # string surface (same argument order)
    "arrayStringConcat": "array_join",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "substringUTF8": "substring",
    "lengthUTF8": "length",
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "trimBoth": "trim",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    # null handling
    "ifNull": "coalesce",
    "nullIf": "nullif",
    "assumeNotNull": "",  # identity wrapper (nullability hint only)
    # array surface, round 6 (same argument order/semantics)
    "arrayFlatten": "flatten",
    "arrayConcat": "concat",
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayZip": "arrays_zip",  # CH tuples -> Spark structs; downstream
    # tuple access (t.1) is not Spark syntax and fails loudly
    "hasAny": "arrays_overlap",
    "arrayIntersect": "array_intersect",  # 2-array form; CH's variadic
    # 3+ form hits Spark's 2-arg signature and fails loudly
    "groupArrayDistinct": "collect_set",
    "concatWithSeparator": "concat_ws",
    # bit surface
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "bitCount": "bit_count",
    # 64-bit hash family: role match (bucketing/sampling/fingerprints),
    # values differ — same documented contract as halfMD5 above
    "sipHash64": "xxhash64",
    "cityHash64": "xxhash64",
    "farmHash64": "xxhash64",
    "intHash64": "xxhash64",
    "intHash32": "xxhash64",
    # round-7 second batch: pure renames
    "toLastDayOfMonth": "last_day",
    # round-7 fifth-session probe batch: epoch-precision families
    # (CH DateTime64 <-> integer; Spark's unix_/timestamp_ twins)
    "toUnixTimestamp64Milli": "unix_millis",
    "toUnixTimestamp64Micro": "unix_micros",
    "fromUnixTimestamp64Milli": "timestamp_millis",
    "fromUnixTimestamp64Micro": "timestamp_micros",
    "roundBankers": "bround",  # both are banker's rounding, same [, n]
    # CH round() is BANKER'S rounding for float types (round(2.5) = 2,
    # documented) — Spark's round is half-up, so the passthrough would be
    # silently wrong on every half. NARROWING (documented in COVERAGE.md
    # with the other behavioral deltas, ADVICE r07 #4): CH rounds
    # Decimal/integer-typed halves away from zero, so a translated query
    # over a Decimal column banker's-rounds where CH would not — a typed
    # guard is impossible in text-level translation (no schema in view);
    # float usage (the dominant analytics case — CH numeric literals and
    # aggregate results are Float64) is exact.
    "round": "bround",
    "generateUUIDv4": "uuid",
    "countMatches": "regexp_count",  # both count non-overlapping matches
    "substringIndex": "substring_index",  # both MySQL semantics
    # arrayElement: both 1-based, both accept negative from-the-end
    # indices; out-of-range is an ANSI error here vs CH's type default —
    # the same narrowing the subscript shift above already documents
    "arrayElement": "element_at",
    # map surface (same argument order/semantics)
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "mapFromArrays": "map_from_arrays",
    # parseDateTimeBestEffort: Spark's to_timestamp parses the ISO-ish
    # core of CH's best-effort formats; both throw on unparseable input
    # (ANSI), and the OrNull twin maps to try_to_timestamp's NULL
    "parseDateTimeBestEffort": "to_timestamp",
    "parseDateTimeBestEffortOrNull": "try_to_timestamp",
    # grouped bitwise aggregates (identical definitions)
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # window helpers (CH's in-frame variants are Spark's lag/lead
    # contract: (col, offset, default) over the window frame)
    "lagInFrame": "lag",
    "leadInFrame": "lead",
    # moment aggregates (identical definitions; skewPop is the
    # population third moment, which is what Spark's skewness computes.
    # kurtPop is NOT here: CH's is the raw m4/sigma^4 while Spark's
    # kurtosis is EXCESS — rewritten with the +3 shift below, round-9b)
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "skewPop": "skewness",
}


#: CH scalar type names -> Spark SQL type names (for the function-form
#: CAST(x, 'T') and CH type names in CAST(x AS T))
_CH_SIMPLE_TYPES = {
    "uint8": "int", "int8": "int", "uint16": "int", "int16": "int",
    "int32": "int", "uint32": "bigint", "uint64": "bigint",
    "int64": "bigint", "float32": "float", "float64": "double",
    "string": "string", "date": "date", "date32": "date",
    "datetime": "timestamp", "bool": "boolean", "boolean": "boolean",
    "uuid": "string",
}


def _ch_type_to_spark(t: str) -> str | None:
    """Map a CH type name to Spark's, or None when unknown. Nullable/
    LowCardinality wrappers unwrap (all Spark types are nullable; LC is
    an encoding hint), Decimal32/64/128 widths become precisions."""
    t = t.strip()
    m = re.fullmatch(r"(?is)(?:nullable|lowcardinality)\s*\((.*)\)", t)
    if m:
        return _ch_type_to_spark(m.group(1))
    m = re.fullmatch(r"(?is)array\s*\((.*)\)", t)
    if m:
        inner = _ch_type_to_spark(m.group(1))
        return None if inner is None else f"array<{inner}>"
    if re.fullmatch(r"(?i)datetime64\s*(?:\([^()]*\))?", t):
        return "timestamp"
    if re.fullmatch(r"(?i)fixedstring\s*\(\s*\d+\s*\)", t):
        return "string"
    m = re.fullmatch(r"(?i)decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    m = re.fullmatch(r"(?i)decimal(32|64|128)\s*\(\s*(\d+)\s*\)", t)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return f"decimal({prec}, {m.group(2)})"
    return _CH_SIMPLE_TYPES.get(t.lower())


def _parse_args(sql: str, i: int) -> tuple[int, list[str]] | None:
    """Parse a parenthesized argument list whose opening ``(`` sits just
    before ``i``; return (end_exclusive, top_level_args), or None when
    the parens never balance."""
    depth, args, cur = 1, [], []
    while i < len(sql):
        c = sql[i]
        if c == "'":  # skip string literal
            j = i + 1
            while j < len(sql) and sql[j] != "'":
                j += 1
            cur.append(sql[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == "[":
            # array literals nest too: the comma in [1, 2] must not
            # split a call argument
            depth += 1
        elif c == "]":
            depth -= 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                return (i + 1, [a for a in args if a != ""])
        elif c == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    return None


def _find_call(sql: str, name: str, start: int = 0) -> tuple[int, int, list[str]] | None:
    """Locate ``name( ... )`` at word boundary from ``start``; return
    (call_start, call_end_exclusive, top_level_args)."""
    pat = re.compile(r"\b" + re.escape(name) + r"\s*\(")
    m = pat.search(sql, start)
    if not m:
        return None
    parsed = _parse_args(sql, m.end())
    if parsed is None:
        return None
    end, args = parsed
    return (m.start(), end, args)


# ClickHouse formatDateTime uses MySQL-style % tokens; Spark date_format
# uses Java DateTimeFormatter patterns. Documented subset (timezone third
# argument unsupported; unknown tokens pass through and fail loudly).
_CH_DATETIME_FORMAT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M", "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H", "%h": "hh", "%I": "hh", "%i": "mm", "%S": "ss",
    "%s": "ss", "%p": "a", "%j": "DDD", "%a": "EEE", "%W": "EEEE",
    "%b": "MMM", "%M": "MMMM", "%F": "yyyy-MM-dd", "%D": "MM/dd/yy",
    "%T": "HH:mm:ss", "%R": "HH:mm", "%%": "%",
}


def _convert_ch_datetime_format(fmt: str) -> str:
    """%-token format -> Spark pattern; literal letters get quoted so the
    Java formatter can't misread them as pattern letters."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            out.append(_CH_DATETIME_FORMAT.get(tok, tok))
            i += 2
        else:
            c = fmt[i]
            out.append(f"'{c}'" if c.isalpha() else c)
            i += 1
    return "".join(out)


def _rewrite_limit_by(sql: str) -> str:
    """ClickHouse ``LIMIT n BY exprs`` (the reference's own top-1-per-group
    pattern, ``compute_transaction_info.py:64-65`` generalized) -> a
    row_number window over the de-tailed query.

    Documented subset: one outermost ``LIMIT n BY`` per statement; the
    ORDER BY / LIMIT BY expressions must be output columns of the SELECT
    (true of the reference's queries). Shapes outside the subset pass
    through and fail loudly in Spark's parser.
    """
    m = re.search(r"\bLIMIT\s+(\d+)\s+BY\s+", sql, flags=re.IGNORECASE)
    if not m:
        return sql
    n = int(m.group(1))
    tail = sql[m.end() :]
    lm = re.search(r"\bLIMIT\s+(\d+)\s*;?\s*$", tail, flags=re.IGNORECASE)
    if lm:
        by_exprs = tail[: lm.start()].strip().rstrip(";").strip()
        final_limit = f" LIMIT {lm.group(1)}"
    else:
        by_exprs = tail.strip().rstrip(";").strip()
        final_limit = ""
    head = sql[: m.start()]
    # find the LAST top-level (paren-depth-0) ORDER BY with a depth
    # scanner, not a regex: a regex paren-pattern caps nesting depth and
    # would silently DROP an ORDER BY like abs(least(v, 0)), ordering the
    # window by the group exprs instead — wrong row per group
    ob_start = ob_end = None
    depth, i, up = 0, 0, head.upper()
    ob_pat = re.compile(r"ORDER\s+BY\s+")
    while i < len(head):
        c = head[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            # match at position i without slicing (up[i:] would copy the
            # tail at every depth-0 char — quadratic on long queries)
            m2 = ob_pat.match(up, i)
            if m2:
                ob_start, ob_end = i, m2.end()
                i = m2.end()
                continue
        i += 1
    if ob_start is not None:
        order = head[ob_end:].strip()
        inner = head[:ob_start].strip()
        outer_order = f" ORDER BY {order}"
    else:
        # CH returns ANY n rows per group without ORDER BY; pick a
        # deterministic one by ordering on the group exprs themselves
        order = by_exprs
        inner = head.strip()
        outer_order = ""
    return (
        "SELECT * EXCEPT (__rn) FROM ("
        f"SELECT *, row_number() OVER "
        f"(PARTITION BY {by_exprs} ORDER BY {order}) AS __rn "
        f"FROM ({inner})"
        f") WHERE __rn <= {n}{outer_order}{final_limit}"
    )


def _uint64_conv(arg: str, cast_fn: str) -> str:
    """UInt64 conversion expression: truncate toward zero, then narrow.

    CH integer conversion truncates toward zero, while a bare
    ``decimal(20,0)`` cast rounds HALF_UP (ADVICE r08 #1: toUInt64(2.5)
    must be 2, not 3). Bind the wide-decimal value once (the same
    single-eval transform/array pattern as IPv4NumToString), drop the
    fractional part with ``- (__u % 1)``, THEN narrow. decimal(38,18)
    keeps 20 integer digits, so the full UInt64 range [0, 2^64) fits and
    integer STRINGS parse exactly (never roundtripping through double).
    Documented narrowing (COVERAGE.md): fractional STRINGS ('1.5')
    truncate to 1 where CH rejects them (throw / NULL / 0 by family) —
    the string parser here is Spark's decimal parser, not CH's strict
    integer parser.
    """
    return (
        f"element_at(transform(array({cast_fn}({arg} AS decimal(38,18))), "
        f"__u -> {cast_fn}(__u - (__u % 1) AS decimal(20,0))), 1)"
    )


def _rewrite_calls(sql: str, name: str, build) -> str:
    """Replace every ``name(...)`` call with ``build(args)``, rescanning the
    replacement so calls NESTED inside a rewritten argument are rewritten
    too (every builder eliminates ``name`` from its output, so the rescan
    terminates)."""
    pos = 0
    while True:
        found = _find_call(sql, name, pos)
        if found is None:
            return sql
        s, e, args = found
        repl = build(args)
        sql = sql[:s] + repl + sql[e:]
        pos = s


def _log_quantize(x: str) -> str:
    """The deterministic log quantizer the tdigest/bfloat16 sketch states
    apply per value: sign * exp(bround(ln|x| * 128) / 128), a
    value-relative step of e^(1/128) ~ 0.78%; 0/NaN/Inf pass through as
    their own buckets. Module-level because both the expression-level
    sketch-state expansion and the two-level structural rewrite key the
    histogram on this exact text."""
    return (
        f"element_at(transform(array(CAST({x} AS DOUBLE)), __q -> "
        f"CASE WHEN __q = 0 OR isnan(__q) OR "
        f"abs(__q) = double('Infinity') THEN __q "
        f"ELSE sign(__q) * exp(bround(ln(abs(__q)) * 128) / 128) "
        f"END), 1)"
    )


def _sum_cap(v: str) -> str:
    """A zero whose type only serves as a coercion witness: ints widen to
    bigint, doubles stay double, decimals reach the precision-38 cap (the
    second product always passes 38, so Spark may cut its scale)."""
    return f"(CAST(0 AS BIGINT) * {v} * CAST(0 AS BIGINT))"


def _sum_value(v: str) -> str:
    """``v`` in the sumMap state's value type: bigint for ints, double for
    doubles, decimal(38, s) for decimal(p, s) with s <= 6. The IF
    branches coerce to their wider type, so no arithmetic rounds ``v``."""
    return f"IF(false, {_sum_cap(v)}, {v})"


def _sum_zero(v: str) -> str:
    """A zero (NULL for a NULL ``v``) of :func:`_sum_value`'s type; as a
    fold seed, ``+ v`` keeps that type."""
    return f"IF(false, {v}, {_sum_cap(v)})"


def _sum_scale_guard(v: str, expr: str, lit: Callable[[str], str]) -> str:
    """``expr``, or an error when ``v`` is a decimal of scale > 6. Under
    Spark's default decimal precision-loss rule, a sum at precision 38
    keeps at most 6 fractional digits, so such a sumMap state would be
    rounded; it raises instead. ``typeof`` folds to a constant, so other
    value types pay nothing. ``lit`` emits a masked string literal."""
    return (
        f"IF(typeof({v}) RLIKE "
        + lit("^decimal[(][0-9]+,([7-9]|[1-3][0-9])[)]$")
        + ", raise_error("
        + lit(
            "sumMap over decimals of scale above 6 would round to scale 6;"
            " cast the values to a scale of 6 or less"
        )
        + f"), {expr})"
    )


# --------------------------------------------------------------------------
# -State pre-aggregation structural rewrite (round 15, VERDICT r14 next #1).
#
# The expression-level map-/histogram-State expansions ship EVERY source row
# through the exchange inside a collect_list — unbounded per-group state,
# the guide-§2/§5 scale hazard (measured at the replicated sf10: the sumMap
# state build cost 2.02 s let-bound vs 0.56 s as a hand-written two-level
# GROUP BY). When the enclosing SELECT block has a safe shape, the whole
# block is restructured so the heavy exchange carries PARTIAL PER-KEY
# AGGREGATES (partial+final HashAggregate over (group keys, map key) /
# (group keys, histogram bucket)) and only the final, per-distinct-key
# entry list — bounded by key cardinality, not row count — is collected.
#
# Safe shape (anything else falls back to the expression-level expansion,
# which stays bit-compatible):
#   SELECT <key items> , <state calls AS alias> FROM ... GROUP BY <keys>
# where every non-key select item is a map-State call (all sharing one
# (keys, values) argument pair) or every one is a histogram-State call
# (all sharing one value argument after sketch quantization), every key
# item is a bare identifier or `expr AS name`, the GROUP BY entries all
# match key items, and nothing (HAVING/ORDER/LIMIT/...) follows the GROUP
# BY at paren depth 0.
#
# Value semantics are preserved exactly (translator tests pin them):
# - groups whose arrays are all empty/NULL still emit an EMPTY map, via
#   LATERAL VIEW OUTER explode + a NULL-key marker dropped after the
#   collect (collect_list skips NULL structs, the group row survives);
# - sumMap's NULL poisoning (any NULL value for a key -> NULL sum, per
#   the fold's `acc + NULL` propagation) is reproduced with the
#   count(*) > count(v) guard; min/max skip NULLs exactly like
#   array_min/array_max;
# - the sum element type is widened by :func:`_sum_value` to the type
#   of the fold accumulator (:func:`_sum_zero`), so both paths declare
#   the DDL's map value type (decimal(p, s) -> decimal(38, s)); decimal
#   scales above 6 raise in both (:func:`_sum_scale_guard`);
# - histogram states bucket-count with count(*) per (keys, value) group;
#   NULL values form a marker group that is dropped after the collect,
#   matching collect_list's NULL-skip.
#
# Documented narrowing (error path only): a NULL map KEY — keys arrays
# containing NULL — made the expression-level expansion raise
# NULL_MAP_KEY at map_from_entries; the two-level form cannot tell a NULL
# key from the kept-empty-group marker and silently DROPS the entry
# (group kept). No translated consumer produces NULL keys (CH itself has
# no Nullable map keys), so only the failure mode changes: error -> entry
# dropped. Pinned in test_state_two_level_rewrite_fires_and_preserves_values.
# --------------------------------------------------------------------------

_MAP_STATE_FNS = ("sumMapState", "minMapState", "maxMapState")
_SKETCH_STATE_FNS = frozenset(
    {
        "quantileTDigestState",
        "quantileBFloat16State",
        "quantilesTDigestState",
        "quantilesBFloat16State",
    }
)
_HIST_STATE_FNS = (
    "quantilesExactState",
    "quantilesTimingState",
    "quantilesTDigestState",
    "quantilesBFloat16State",
    "quantilesState",
    "quantileExactState",
    "quantileTimingState",
    "quantileTDigestState",
    "quantileBFloat16State",
    "quantileState",
)


def _norm_expr(e: str) -> str:
    return re.sub(r"\s+", " ", e.strip()).lower()


def _find_top_level_kw(
    s: str, kw_pattern: str, start: int = 0
) -> tuple[int, int] | None:
    """(start, end) of the first depth-0 match of ``kw_pattern``."""
    pat = re.compile(kw_pattern, re.IGNORECASE)
    depth = 0
    i = start
    n = len(s)
    while i < n:
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                return (i, m.end())
        i += 1
    return None


def _enclosing_select_block(sql: str, p: int) -> tuple[int, int] | None:
    """(start, end) of the innermost SELECT block containing position
    ``p``: the body of the nearest enclosing ``( SELECT ... )``, else the
    whole statement when it is itself a top-level SELECT."""
    stack: list[int] = []
    for i in range(p):
        c = sql[i]
        if c == "(":
            stack.append(i)
        elif c == ")" and stack:
            stack.pop()
    for open_pos in reversed(stack):
        j = _skip_ws(sql, open_pos + 1)
        if sql[j : j + 6].upper() == "SELECT":
            end = _balanced_paren_end(sql, open_pos)
            return (open_pos + 1, end - 1)
    j = _skip_ws(sql, 0)
    if sql[j : j + 6].upper() == "SELECT":
        return (j, len(sql))
    return None


def _parse_state_item(it: str) -> dict | None:
    """Classify one select item as ``fn(args) AS alias`` for a rewritable
    -State call (optionally parametric ``fn(levels)(args)`` — -State
    ignores level parameters); None when it is anything else."""
    m = re.match(
        r"(" + "|".join(_MAP_STATE_FNS + _HIST_STATE_FNS) + r")\s*\(", it
    )
    if m is None:
        return None
    fn = m.group(1)
    parsed = _parse_args(it, m.end())
    if parsed is None:
        return None
    end, args = parsed
    j = _skip_ws(it, end)
    if j < len(it) and it[j] == "(":  # parametric: fn(levels)(args)
        parsed = _parse_args(it, j + 1)
        if parsed is None:
            return None
        end, args = parsed
    am = re.match(r"(?is)\s+AS\s+(\w+)\s*$", it[end:])
    if am is None:
        return None
    alias = am.group(1)
    if fn in _MAP_STATE_FNS:
        if len(args) != 2:
            return None  # the expression-level expansion raises loudly
        return {
            "kind": "map",
            "which": fn[:3],
            "key": args[0],
            "val": args[1],
            "alias": alias,
        }
    if len(args) != 1:
        return None
    keyx = _log_quantize(args[0]) if fn in _SKETCH_STATE_FNS else f"({args[0]})"
    return {"kind": "hist", "key": keyx, "alias": alias}


def _singleton_array_arg(e: str) -> str | None:
    """The inner expression of a literal one-element ``array(expr)``
    constructor, else None. sumMap-family calls in every translated
    consumer key on singleton arrays (``array(col % 4)``) — for those the
    two-level rewrite can group on the expression directly and skip the
    zip_with + explode Generate entirely (measured at the replicated
    sf10: 0.90 -> 0.55 s on the map-state build's inner aggregate)."""
    e = e.strip()
    m = re.match(r"(?is)array\s*\(", e)
    if m is None:
        return None
    parsed = _parse_args(e, m.end())
    if parsed is None:
        return None
    end, args = parsed
    if end != len(e) or len(args) != 1:
        return None
    return args[0]


def _item_alias(it: str) -> str | None:
    """Output name of a non-aggregate select item: a bare (possibly
    qualified) identifier, or the alias of ``expr AS name``."""
    if re.fullmatch(r"[\w.]+", it):
        return it.split(".")[-1]
    am = re.search(r"(?is)^(.*\S)\s+AS\s+(\w+)\s*$", it)
    if am is not None:
        return am.group(2)
    return None


def _two_level_block(block: str, lit: Callable[[str], str]) -> str | None:
    """Rewrite one SELECT block to the two-level pre-aggregated form, or
    None when the block does not have the safe shape. ``lit`` emits a
    masked string literal."""
    m = re.match(r"(?is)\s*SELECT\s+", block)
    if m is None or re.match(r"(?is)\s*SELECT\s+DISTINCT\b", block):
        return None
    sel_start = m.end()
    fr = _find_top_level_kw(block, r"\bFROM\b", sel_start)
    if fr is None:
        return None
    items = [
        i.strip() for i in _split_top_level_commas(block[sel_start : fr[0]])
    ]
    gb = _find_top_level_kw(block, r"\bGROUP\s+BY\b", fr[1])
    if gb is None:
        return None
    from_part = block[fr[1] : gb[0]].strip()
    gb_tail = block[gb[1] :]
    if not from_part or _find_top_level_kw(
        gb_tail,
        r"\b(HAVING|ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT|WINDOW"
        r"|DISTRIBUTE\s+BY|SORT\s+BY|CLUSTER\s+BY|QUALIFY"
        r"|GROUPING\s+SETS|ROLLUP|CUBE|WITH)\b",
    ):
        return None
    # a second top-level GROUP BY after ours would mean a shape this
    # parser does not understand
    if _find_top_level_kw(block, r"\bGROUP\s+BY\b", gb[1]) is not None:
        return None
    gb_items = [g.strip() for g in _split_top_level_commas(gb_tail)]
    gb_items = [g.rstrip("; \n\t") for g in gb_items]
    if not gb_items or not all(gb_items):
        return None

    key_items: list[tuple[str, str]] = []  # (verbatim item, out name)
    calls: list[dict] = []
    order: list[tuple[str, int]] = []  # ("key"|"call", index)
    for it in items:
        if not it:
            return None
        call = _parse_state_item(it)
        if call is not None:
            order.append(("call", len(calls)))
            calls.append(call)
            continue
        alias = _item_alias(it)
        if alias is None:
            return None
        order.append(("key", len(key_items)))
        key_items.append((it, alias))
    if not calls or not key_items:
        return None
    kinds = {c["kind"] for c in calls}
    if len(kinds) != 1:
        return None
    kind = kinds.pop()
    if len({_norm_expr(c["key"]) for c in calls}) != 1:
        return None
    if kind == "map" and len({_norm_expr(c["val"]) for c in calls}) != 1:
        return None
    # BIDIRECTIONAL cover between key items and GROUP BY entries: every
    # GROUP BY entry must name a key item (so grouping by the key OUTPUT
    # names is equivalent), and every key item must appear in GROUP BY
    # (else it is some OTHER aggregate — e.g. groupArrayState — that this
    # rewrite must not touch: fall back to the expression expansions).
    # The bare alias of ``expr AS name`` is no match: Spark resolves
    # GROUP BY name to an input column of that name before the alias
    # (``substr(g, 1, 2) AS g ... GROUP BY g`` groups by the column g),
    # which grouping by the key output would not do.
    gb_norm = {_norm_expr(g) for g in gb_items}
    covered: set[str] = set()
    for it, alias in key_items:
        mine = {_norm_expr(it)}
        am = re.search(r"(?is)^(.*\S)\s+AS\s+\w+\s*$", it)
        if am is not None:
            mine.add(_norm_expr(am.group(1)))
        else:
            mine.add(alias.lower())
        if not mine & gb_norm:
            return None
        covered |= mine
    if not gb_norm <= covered:
        return None

    key_sel = ", ".join(it for it, _ in key_items)
    key_out = ", ".join(a for _, a in key_items)
    out_vals: list[str] = []
    if kind == "map":
        k1 = _singleton_array_arg(calls[0]["key"])
        v1 = _singleton_array_arg(calls[0]["val"])

        def _agg_over(v: str, which: str) -> str:
            return {
                "sum": (
                    f"IF(count(*) > count({v}), NULL, "
                    f"sum({_sum_scale_guard(v, _sum_value(v), lit)}))"
                ),
                "min": f"min({v})",
                "max": f"max({v})",
            }[which]

        aggs: list[str] = []
        for i, c in enumerate(calls):
            out_vals.append(
                "map_from_entries(array_sort(collect_list("
                "IF(__msk IS NULL, NULL, named_struct('key', __msk, "
                f"'value', __msv{i}))))) AS {c['alias']}"
            )
        if k1 is not None and v1 is not None:
            # singleton-array fast path: one (k, v) pair per row — group
            # on the expressions directly, no zip_with/explode Generate.
            # Semantics identical to the exploded path: a NULL k row is
            # the marker group (dropped after the collect, group kept),
            # NULL v poisons the sum via the count guard.
            for i, c in enumerate(calls):
                aggs.append(f"{_agg_over('__msv', c['which'])} AS __msv{i}")
            inner = (
                f"SELECT {key_sel}, ({k1}) AS __msk0, ({v1}) AS __msv "
                f"FROM {from_part}"
            )
            mid = (
                f"SELECT {key_out}, __msk0 AS __msk, {', '.join(aggs)} "
                f"FROM ({inner}) GROUP BY {key_out}, __msk0"
            )
        else:
            ents = (
                f"zip_with({calls[0]['key']}, {calls[0]['val']}, "
                "(__msx, __msy) -> named_struct('k', __msx, 'v', __msy))"
            )
            inner = f"SELECT {key_sel}, {ents} AS __msents FROM {from_part}"
            for i, c in enumerate(calls):
                aggs.append(f"{_agg_over('__ms.v', c['which'])} AS __msv{i}")
            mid = (
                f"SELECT {key_out}, __ms.k AS __msk, {', '.join(aggs)} "
                f"FROM ({inner}) "
                "LATERAL VIEW OUTER explode(__msents) __mst AS __ms "
                f"GROUP BY {key_out}, __ms.k"
            )
    else:
        inner = (
            f"SELECT {key_sel}, {calls[0]['key']} AS __msq FROM {from_part}"
        )
        for c in calls:
            out_vals.append(
                "map_from_entries(array_sort(collect_list("
                "IF(__msq IS NULL, NULL, named_struct('key', __msq, "
                f"'value', __msc))))) AS {c['alias']}"
            )
        mid = (
            f"SELECT {key_out}, __msq, CAST(count(*) AS BIGINT) AS __msc "
            f"FROM ({inner}) GROUP BY {key_out}, __msq"
        )
    # outer select preserves the original item order (the block may be a
    # whole statement whose output column order is load-bearing)
    outer_items = [
        key_items[i][1] if tag == "key" else out_vals[i]
        for tag, i in order
    ]
    return (
        f"SELECT {', '.join(outer_items)} FROM ({mid}) GROUP BY {key_out}"
    )


def _rewrite_state_two_level(sql: str, lit: Callable[[str], str]) -> str:
    """Apply :func:`_two_level_block` to every qualifying SELECT block
    containing a map-/histogram-State call; non-qualifying calls are left
    for the expression-level expansions."""
    pos = 0
    fns = _MAP_STATE_FNS + _HIST_STATE_FNS
    while True:
        found: tuple[str, tuple[int, int, list[str]]] | None = None
        for fn in fns:
            f = _find_call(sql, fn, pos)
            if f is not None and (found is None or f[0] < found[1][0]):
                found = (fn, f)
        if found is None:
            return sql
        blk = _enclosing_select_block(sql, found[1][0])
        new_block = (
            _two_level_block(sql[blk[0] : blk[1]], lit) if blk else None
        )
        if new_block is None:
            pos = found[1][1]  # leave this call to the fallback expansion
            continue
        sql = sql[: blk[0]] + new_block + sql[blk[1] :]
        pos = blk[0] + len(new_block)


# --------------------------------------------------------------------------
# ANY JOIN strictness (CH: at most ONE right-side match per left row).
# Translated to a row_number()=1-deduped right side + plain join — CH's
# any-pick is arbitrary, so picking Spark's first row per key is inside
# the same contract (deterministic modulo CH's own any-pick). ASOF joins
# are rewritten separately (_rewrite_asof_joins below, which runs FIRST
# in translate() so no ASOF keyword ever reaches this rewriter).
# --------------------------------------------------------------------------

_ANY_JOIN_PAT = re.compile(
    r"\b(?:ANY\s+(?P<d1>LEFT|INNER|RIGHT|FULL)(?:\s+OUTER)?\s+JOIN"
    r"|(?P<d2>LEFT|INNER|RIGHT|FULL)(?:\s+OUTER)?\s+ANY\s+JOIN"
    r"|ANY\s+JOIN)\b",
    re.IGNORECASE,
)

#: keywords that terminate an ON condition at paren-depth 0
_ON_END_KEYWORDS = frozenset(
    {
        "where", "group", "order", "having", "limit", "union", "except",
        "intersect", "settings", "format", "window", "join", "left",
        "right", "inner", "full", "cross", "any", "asof", "global",
        "semi", "anti",
    }
)


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i].isspace():
        i += 1
    return i


def _balanced_paren_end(s: str, i: int) -> int:
    """``s[i]`` is ``(``; return the index just past its matching ``)``."""
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n and s[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in join clause rewrite")


def _on_condition_end(sql: str, i: int) -> int:
    depth = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i  # closing the enclosing subquery
            depth -= 1
        elif c == "," and depth == 0:
            return i
        elif depth == 0 and (c.isalpha() or c == "_"):
            mw = re.match(r"[A-Za-z_]\w*", sql[i:])
            # a keyword-looking token right after '.' is the field part
            # of a qualified name (l.asof, t.window), not a clause end
            if (
                mw.group(0).lower() in _ON_END_KEYWORDS
                and not (i > 0 and sql[i - 1] == ".")
            ):
                return i
            i += mw.end()
            continue
        i += 1
    return n


def _split_and_top_level(cond: str) -> list[str]:
    parts: list[str] = []
    depth, i, start, n = 0, 0, 0, len(cond)
    while i < n:
        c = cond[i]
        if c == "'":
            j = i + 1
            while j < n and cond[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c in "aA":
            mm = re.match(r"AND\b", cond[i:], re.IGNORECASE)
            prev_ok = i == 0 or not (
                cond[i - 1].isalnum() or cond[i - 1] in "_."
            )
            if mm and prev_ok:
                parts.append(cond[start:i])
                i += 3
                start = i
                continue
        i += 1
    parts.append(cond[start:])
    return parts


def _right_keys_from_on(cond: str, right_name: str) -> list[str]:
    """Right-side join-key columns from a simple equi-join ON condition;
    anything fancier fails loudly (loud beats silently-wrong
    multiplicity)."""
    names = {right_name.lower()}
    if "." in right_name:
        names.add(right_name.rsplit(".", 1)[-1].lower())
    keys: list[str] = []
    for term in _split_and_top_level(cond):
        mm = re.fullmatch(
            r"\s*([A-Za-z_][\w.]*)\s*=\s*([A-Za-z_][\w.]*)\s*", term
        )
        if not mm:
            raise ValueError(
                f"ANY JOIN ON term {term.strip()!r} is not a simple "
                "qualified equality; not translated"
            )
        sides = [mm.group(1), mm.group(2)]
        right_cols = [
            s
            for s in sides
            if "." in s and s.rsplit(".", 1)[0].lower() in names
        ]
        if len(right_cols) != 1:
            raise ValueError(
                f"ANY JOIN ON term {term.strip()!r}: exactly one side "
                f"must be a column qualified by the right table "
                f"{right_name!r}; not translated"
            )
        keys.append(right_cols[0].rsplit(".", 1)[1])
    return keys


def _parse_joined_relation(
    sql: str, i: int, what: str
) -> tuple[str, bool, str, int]:
    """Parse the relation (table name or parenthesized subquery) plus its
    optional alias at ``sql[i:]``, for the joined side of a rewritten
    join. Returns ``(rel, rel_is_subquery, out_alias, next_pos)``."""
    if i < len(sql) and sql[i] == "(":
        j = _balanced_paren_end(sql, i)
        rel = sql[i:j]
        rel_is_subquery = True
    else:
        mr = re.match(r"[A-Za-z_][\w.]*", sql[i:])
        if not mr:
            raise ValueError(f"cannot parse relation after {what}")
        rel = mr.group(0)
        rel_is_subquery = False
        j = i + mr.end()
    k = _skip_ws(sql, j)
    alias = None
    ma = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)", sql[k:], re.IGNORECASE)
    if ma and ma.group(1).lower() not in ("on", "using"):
        alias = ma.group(1)
        k = _skip_ws(sql, k + ma.end())
    out_alias = alias or (None if rel_is_subquery else rel.split(".")[-1])
    if out_alias is None:
        raise ValueError(
            f"{what} over a subquery needs an alias; not translated"
        )
    return rel, rel_is_subquery, out_alias, k


def _rewrite_any_joins(sql: str) -> str:
    """CH ``ANY LEFT/INNER JOIN`` -> right side deduped to one row per
    join key (``row_number() = 1``) + plain LEFT/INNER join. ``ANY
    RIGHT/FULL`` (dedupes the LEFT side — needs the whole FROM context)
    fails loudly; so does a non-equi ON. ASOF joins are rewritten
    separately (``_rewrite_asof_joins``, which runs first)."""
    pos = 0
    while True:
        m = _ANY_JOIN_PAT.search(sql, pos)
        if m is None:
            return sql
        direction = (m.group("d1") or m.group("d2") or "INNER").upper()
        if direction in ("RIGHT", "FULL"):
            raise ValueError(
                f"ANY {direction} JOIN dedupes the LEFT side per key; "
                "not translated (rewrite with the tables swapped as "
                "LEFT ANY JOIN)"
            )
        i = _skip_ws(sql, m.end())
        rel, rel_is_subquery, out_alias, k = _parse_joined_relation(
            sql, i, "ANY JOIN"
        )
        mk = re.match(r"(ON|USING)\b", sql[k:], re.IGNORECASE)
        if not mk:
            raise ValueError(
                "ANY JOIN without ON/USING is not translated"
            )
        c = _skip_ws(sql, k + mk.end())
        if mk.group(1).upper() == "USING":
            if c < len(sql) and sql[c] == "(":
                e = _balanced_paren_end(sql, c)
                cols_text = sql[c + 1 : e - 1]
                clause_end = e
            else:
                mu = re.match(r"[A-Za-z_]\w*", sql[c:])
                if not mu:
                    raise ValueError("cannot parse USING columns")
                cols_text = mu.group(0)
                clause_end = c + mu.end()
            keys = [x.strip() for x in cols_text.split(",") if x.strip()]
            tail = f"USING ({', '.join(keys)})"
        else:
            clause_end = _on_condition_end(sql, c)
            cond = sql[c:clause_end].strip()
            keys = _right_keys_from_on(cond, out_alias)
            tail = f"ON {cond}"
        part = ", ".join(keys)
        join_kw = "LEFT JOIN" if direction == "LEFT" else "JOIN"
        deduped = (
            f"(SELECT * EXCEPT (__ch_any_rn) FROM (SELECT *, "
            f"row_number() OVER (PARTITION BY {part} ORDER BY {part}) "
            f"AS __ch_any_rn FROM {rel} AS __ch_any_src) "
            f"WHERE __ch_any_rn = 1)"
        )
        repl = f"{join_kw} {deduped} AS {out_alias} {tail} "
        sql = sql[: m.start()] + repl + sql[clause_end:]
        pos = m.start() + len(repl)


# --------------------------------------------------------------------------
# ASOF JOIN strictness (CH: per left row, the single closest right match
# by ONE inequality, among rows matching the equality keys; reference CH
# usage shape README.md:300-320-style trade/quote alignment). Rewritten
# as a pure RIGHT-SIDE transform — the interval form: each right row gets
# its per-key neighbor asof value (lead for >=/>, lag for <=/<), turning
# "closest match" into an equi+range join that matches AT MOST ONE right
# row per left row with no left-row id needed (same locality contract as
# the ANY JOIN dedup). At scale this costs one hash exchange of the right
# side on the equality keys — the same partitioning the sort-merge join
# needs, so the exchange is reused; the high-performance path for big
# symmetric as-of workloads remains operators/asof.py.
#
# The neighbor column ``__ch_asof_nbr`` must be visible at join scope, so
# a bare ``SELECT *`` (or ``<right_alias>.*``) in the owning SELECT would
# leak it into the result — that narrow case fails loudly instead of
# returning a wider schema than CH would.
# --------------------------------------------------------------------------

_ASOF_JOIN_PAT = re.compile(
    r"\b(?:ASOF\s+(?P<d1>LEFT|INNER|RIGHT|FULL)(?:\s+OUTER)?\s+JOIN"
    r"|(?P<d2>LEFT|INNER|RIGHT|FULL)(?:\s+OUTER)?\s+ASOF\s+JOIN"
    r"|ASOF\s+JOIN)\b",
    re.IGNORECASE,
)

_SIMPLE_EQ_PAT = re.compile(
    r"\s*([A-Za-z_][\w.]*)\s*=\s*([A-Za-z_][\w.]*)\s*"
)
_ASOF_INEQ_PAT = re.compile(
    r"\s*([A-Za-z_][\w.]*)\s*(>=|<=|>|<)\s*([A-Za-z_][\w.]*)\s*"
)

#: inequality flipped when the right column is written on the LEFT of the
#: operator (``r.t <= l.t`` == ``l.t >= r.t``)
_FLIP_OP = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}

#: closest-match bound on the neighbor value, per (left-op) orientation:
#: for ``l.t >= r.t`` the pick is the LARGEST r.t <= l.t, i.e. the match
#: holds iff the NEXT r.t (lead) is absent or past l.t; mirrored for the
#: other three. Values are (window function, bound operator on l-expr vs
#: the neighbor column).
_ASOF_NEIGHBOR = {
    ">=": ("lead", "<"),
    ">": ("lead", "<="),
    "<=": ("lag", ">"),
    "<": ("lag", ">="),
}


def _classify_asof_on(
    cond: str, right_name: str
) -> tuple[list[str], tuple[str, str, str]]:
    """Split an ASOF ``ON`` condition into equality right-key columns and
    the single inequality term, normalized to ``(left_expr, op,
    right_col)`` orientation. Anything fancier fails loudly — a
    misclassified term would silently change which row is "closest".

    ``right_name`` is always a bare alias (``_parse_joined_relation``
    returns either an explicit alias or the table name's last
    component)."""

    def is_right(s: str) -> bool:
        return (
            "." in s
            and s.rsplit(".", 1)[0].lower() == right_name.lower()
        )

    keys: list[str] = []
    ineq: tuple[str, str, str] | None = None
    for term in _split_and_top_level(cond):
        me = _SIMPLE_EQ_PAT.fullmatch(term)
        if me:
            sides = [me.group(1), me.group(2)]
            right_cols = [s for s in sides if is_right(s)]
            if len(right_cols) != 1:
                raise ValueError(
                    f"ASOF JOIN ON term {term.strip()!r}: exactly one "
                    f"side must be a column qualified by the right table "
                    f"{right_name!r}; not translated"
                )
            keys.append(right_cols[0].rsplit(".", 1)[1])
            continue
        mi = _ASOF_INEQ_PAT.fullmatch(term)
        if not mi:
            raise ValueError(
                f"ASOF JOIN ON term {term.strip()!r} is not a simple "
                "qualified equality or inequality; not translated"
            )
        if ineq is not None:
            raise ValueError(
                "ASOF JOIN ON must contain exactly ONE inequality; "
                f"found a second: {term.strip()!r}"
            )
        a, op, b = mi.group(1), mi.group(2), mi.group(3)
        if is_right(a) == is_right(b):
            raise ValueError(
                f"ASOF JOIN inequality {term.strip()!r}: exactly one "
                f"side must be a column qualified by the right table "
                f"{right_name!r}; not translated"
            )
        if is_right(a):
            a, op, b = b, _FLIP_OP[op], a
        ineq = (a, op, b.rsplit(".", 1)[1])
    if ineq is None:
        raise ValueError(
            "ASOF JOIN ON needs an inequality (the asof term); "
            "not translated"
        )
    if not keys:
        raise ValueError(
            "ASOF JOIN ON needs at least one equality term (CH requires "
            "it too); not translated"
        )
    return keys, ineq


def _owning_select_kw(sql: str, pos: int) -> int | None:
    """Index of the SELECT keyword owning position ``pos`` (the
    innermost SELECT at the same paren depth), or None."""
    depth = 0
    sel_at_depth: dict[int, int] = {}
    i = 0
    while i < pos:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < pos and sql[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            sel_at_depth.pop(depth, None)
            depth -= 1
        elif c.isalpha() or c == "_":
            mw = re.match(r"[A-Za-z_]\w*", sql[i:])
            if mw.group(0).lower() == "select" and not (
                i > 0 and sql[i - 1] == "."
            ):
                sel_at_depth[depth] = i
            i += mw.end()
            continue
        i += 1
    return sel_at_depth.get(depth)


def _owning_select_items(sql: str, pos: int) -> list[str]:
    """Top-level select-list items of the SELECT that owns position
    ``pos`` (the innermost SELECT at the same paren depth). Empty list if
    none found (defensive — a join always follows a SELECT's FROM)."""
    kw = _owning_select_kw(sql, pos)
    if kw is None:
        return []
    start = kw + len("select")
    # select list runs to the owning FROM at the same depth
    d2 = 0
    i = start
    n = len(sql)
    end = n
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            d2 += 1
        elif c == ")":
            if d2 == 0:
                end = i
                break
            d2 -= 1
        elif d2 == 0 and (c.isalpha() or c == "_"):
            mw = re.match(r"[A-Za-z_]\w*", sql[i:])
            # same dot-guard as the clause scanners: t.from is a field
            if mw.group(0).lower() == "from" and not (
                i > 0 and sql[i - 1] == "."
            ):
                end = i
                break
            i += mw.end()
            continue
        i += 1
    items = _split_top_level_commas(sql[start:end])
    return [x.strip() for x in items if x.strip()]


def _split_top_level_commas(text: str) -> list[str]:
    """Split at paren/bracket-depth-0 commas, skipping quoted text."""
    parts: list[str] = []
    depth, start, i, n = 0, 0, 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n and text[j] != "'":
                j += 1
            i = j + 1
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return parts


def _rewrite_asof_joins(sql: str) -> str:
    """CH ``ASOF [LEFT|INNER] JOIN`` (both keyword orders) -> right side
    augmented with a per-key lead/lag neighbor of the asof column + an
    equi+range join that matches at most one right row per left row.
    ``USING (keys..., t)`` (implicit ``>=`` on the last column,
    coalesced output) translates by renaming the right side's USING
    columns in the augmented subquery — unqualified outer refs then
    resolve to the left side, which IS the coalesced value for
    LEFT/INNER. Bare-star select lists fail loudly."""
    pos = 0
    while True:
        m = _ASOF_JOIN_PAT.search(sql, pos)
        if m is None:
            return sql
        direction = (m.group("d1") or m.group("d2") or "INNER").upper()
        if direction in ("RIGHT", "FULL"):
            # not valid ClickHouse either — reject rather than silently
            # running a RIGHT/FULL join with asof residual conditions
            raise ValueError(
                f"ASOF {direction} JOIN is not supported (ClickHouse "
                "allows only ASOF [LEFT|INNER] JOIN); not translated"
            )
        i = _skip_ws(sql, m.end())
        rel, rel_is_subquery, out_alias, k = _parse_joined_relation(
            sql, i, "ASOF JOIN"
        )
        mk = re.match(r"(ON|USING)\b", sql[k:], re.IGNORECASE)
        if not mk:
            raise ValueError("ASOF JOIN without ON is not translated")
        for item in _owning_select_items(sql, m.start()):
            bare = re.match(r"(?is)^(?:DISTINCT\s+|ALL\s+)?\*", item)
            q = re.match(
                r"(?is)^([A-Za-z_]\w*)\s*\.\s*\*", item
            )
            if bare or (q and q.group(1).lower() == out_alias.lower()):
                raise ValueError(
                    "ASOF JOIN with a bare '*' select list is not "
                    "translated (the rewrite adds a helper column the "
                    "star would leak); list the columns explicitly"
                )
        if mk.group(1).upper() == "USING":
            # CH ASOF USING: every column but the last is an equality
            # key, the LAST is the asof column with an implicit
            # ``left.t >= right.t``; the USING columns are coalesced in
            # the output (= the LEFT side's values for LEFT and for
            # matched INNER rows). Rewrite: RENAME the right side's
            # USING columns inside the augmented subquery, so an
            # unqualified outer reference resolves to the left side
            # alone — exactly the coalesced value. A right-QUALIFIED
            # reference to a USING column no longer exists and fails
            # loudly in the analyzer (loud beats silently-wrong).
            c = _skip_ws(sql, k + mk.end())
            if c < len(sql) and sql[c] == "(":
                e = _balanced_paren_end(sql, c)
                cols_text = sql[c + 1 : e - 1]
                clause_end = e
            else:
                mu = re.match(r"[A-Za-z_]\w*", sql[c:])
                if not mu:
                    raise ValueError("cannot parse ASOF USING columns")
                cols_text = mu.group(0)
                clause_end = c + mu.end()
            cols = [x.strip() for x in cols_text.split(",") if x.strip()]
            if len(cols) < 2:
                raise ValueError(
                    "ASOF JOIN USING needs at least 2 columns "
                    "(equality keys first, the asof column last)"
                )
            if not all(re.fullmatch(r"[A-Za-z_]\w*", x) for x in cols):
                raise ValueError(
                    "ASOF JOIN USING columns must be plain identifiers"
                )
            keys, asof_col = cols[:-1], cols[-1]
            win_fn, bound_op = _ASOF_NEIGHBOR[">="]
            renamed = ", ".join(
                f"{x} AS __ch_asof_u_{x}" for x in cols
            )
            augmented = (
                f"(SELECT * EXCEPT ({', '.join(cols)}), {renamed}, "
                f"{win_fn}({asof_col}) OVER "
                f"(PARTITION BY {', '.join(keys)} ORDER BY {asof_col}) "
                f"AS __ch_asof_nbr FROM {rel} AS __ch_asof_src)"
            )
            nbr = f"{out_alias}.__ch_asof_nbr"
            on_parts = [
                f"{x} = {out_alias}.__ch_asof_u_{x}" for x in keys
            ] + [f"{asof_col} >= {out_alias}.__ch_asof_u_{asof_col}"]
            tail = (
                f"ON {' AND '.join(on_parts)} AND "
                f"({nbr} IS NULL OR {asof_col} {bound_op} {nbr})"
            )
            join_kw = "LEFT JOIN" if direction == "LEFT" else "JOIN"
            repl = f"{join_kw} {augmented} AS {out_alias} {tail} "
            sql = sql[: m.start()] + repl + sql[clause_end:]
            pos = m.start() + len(repl)
            continue
        c = _skip_ws(sql, k + mk.end())
        clause_end = _on_condition_end(sql, c)
        cond = sql[c:clause_end].strip()
        keys, (left_expr, op, asof_col) = _classify_asof_on(
            cond, out_alias
        )
        win_fn, bound_op = _ASOF_NEIGHBOR[op]
        part = ", ".join(keys)
        nbr = f"{out_alias}.__ch_asof_nbr"
        augmented = (
            f"(SELECT __ch_asof_src.*, {win_fn}({asof_col}) OVER "
            f"(PARTITION BY {part} ORDER BY {asof_col}) AS __ch_asof_nbr "
            f"FROM {rel} AS __ch_asof_src)"
        )
        join_kw = "LEFT JOIN" if direction == "LEFT" else "JOIN"
        tail = (
            f"ON {cond} AND ({nbr} IS NULL OR {left_expr} {bound_op} {nbr})"
        )
        repl = f"{join_kw} {augmented} AS {out_alias} {tail} "
        sql = sql[: m.start()] + repl + sql[clause_end:]
        pos = m.start() + len(repl)


# --------------------------------------------------------------------------
# ARRAY JOIN clause (CH's explode-in-FROM). ``ARRAY JOIN arr AS x`` ->
# ``LATERAL VIEW explode(arr) __ch_aj AS x``; LEFT ARRAY JOIN (rows with
# empty arrays survive with NULL element) -> LATERAL VIEW OUTER. The
# function form arrayJoin(x) maps separately to explode (rename table).
# --------------------------------------------------------------------------

_ARRAY_JOIN_PAT = re.compile(
    r"\b(?:(LEFT|INNER)\s+)?ARRAY\s+JOIN\b", re.IGNORECASE
)

_JOIN_STARTERS = frozenset(
    {"join", "left", "right", "inner", "full", "cross", "any", "asof",
     "global", "semi", "anti", "array"}
)


def _array_join_expr_end(sql: str, i: int) -> int:
    """End of one ARRAY JOIN item expression: top-level ``,``, ``AS``, a
    clause/join keyword, an enclosing ``)``, or end of string."""
    depth = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 1
            i = j + 1
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            if depth == 0:
                return i
            depth -= 1
        elif c == "," and depth == 0:
            return i
        elif depth == 0 and (c.isalpha() or c == "_"):
            mw = re.match(r"[A-Za-z_]\w*", sql[i:])
            w = mw.group(0).lower()
            if (w == "as" or w in _ON_END_KEYWORDS) and not (
                i > 0 and sql[i - 1] == "."
            ):
                return i
            i += mw.end()
            continue
        i += 1
    return n


def _owning_select_block(sql: str, pos: int) -> tuple[int, int]:
    """Span ``(start, end)`` of the SELECT block that owns position
    ``pos``: from its SELECT keyword to the ``)`` closing the block (or
    end of string). ``(0, len(sql))`` if no owning SELECT is found."""
    kw = _owning_select_kw(sql, pos)
    start = 0 if kw is None else kw
    d2 = 0
    i = pos
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 1
            i = j + 1
            continue
        if c == "(":
            d2 += 1
        elif c == ")":
            if d2 == 0:
                return start, i
            d2 -= 1
        i += 1
    return start, n


def _contains_bare_ident(text: str, name: str) -> bool:
    """True when a standalone (unqualified, non-call, unmasked)
    occurrence of ``name`` exists outside string literals."""
    for m in re.finditer(rf"(?<![\w.$\x00]){re.escape(name)}(?![\w\x00])",
                         text):
        k = _skip_ws(text, m.end())
        if k < len(text) and text[k] == "(":
            continue
        # inside a string literal?
        if text.count("'", 0, m.start()) % 2 == 1:
            continue
        return True
    return False


def _replace_bare_ident(text: str, name: str, repl: str) -> str:
    """Replace standalone identifier occurrences of ``name`` (not
    qualified by ``.``, not part of a longer word, not a function call,
    not inside a ``\\x00``-masked literal token) outside string
    literals. Fails loudly when the rewrite would be ambiguous: a
    nested ``(SELECT ...)`` scope or a lambda parameter that shadows
    ``name`` resolves differently in CH than a blind substitution
    would."""
    # a lambda parameter named ``name`` (single or parenthesized list)
    # shadows the element alias inside its body — a text substitution
    # would rewrite both declaration and body uses
    for pm in re.finditer(
        rf"(?:\b{re.escape(name)}\s*->"
        rf"|\(([^()]*)\)\s*->)", text
    ):
        params = pm.group(1)
        if params is None or re.search(
            rf"(?<![\w.]){re.escape(name)}(?![\w])", params
        ):
            raise ValueError(
                f"ARRAY JOIN element {name!r} is shadowed by a lambda "
                "parameter of the same name; rename one of them"
            )
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n and text[j] != "'":
                j += 1
            out.append(text[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            # a nested subquery is its own name scope: a bare ``name``
            # inside it resolves to the INNER relation's column in CH
            # (or correlates outward only when absent there) — a text
            # rewriter can't know which, so substitution must not
            # descend; loud when the name appears inside. Covers the
            # plain, CTE (WITH ... SELECT) and parenthesized set-op
            # ((SELECT ...) UNION ...) spellings; a parenthesized
            # arithmetic group is NOT a scope and substitutes normally.
            k = _skip_ws(text, i + 1)
            while k < len(text) and text[k] == "(":
                k = _skip_ws(text, k + 1)
            if re.match(r"(?:SELECT|WITH)\b", text[k:], re.IGNORECASE):
                j = _balanced_paren_end(text, i)
                if _contains_bare_ident(text[i:j], name):
                    raise ValueError(
                        f"ARRAY JOIN element {name!r} is referenced "
                        "inside a nested subquery, where CH scoping "
                        "rules are ambiguous for a text rewrite; "
                        "qualify or rename the inner column"
                    )
                out.append(text[i:j])
                i = j
                continue
        if (c.isalpha() or c == "_") and text.startswith(name, i):
            # space sentinels: '' is a substring of every string, so a
            # bare boundary test with "" would treat begin/end-of-input
            # as a word character and skip trailing occurrences
            prev = text[i - 1] if i > 0 else " "
            nxt = text[i + len(name)] if i + len(name) < n else " "
            if (
                not (prev.isalnum() or prev in "_.$\x00")
                and not (nxt.isalnum() or nxt in "_\x00")
            ):
                k = _skip_ws(text, i + len(name))
                if not (k < n and text[k] == "("):
                    out.append(repl)
                    i += len(name)
                    continue
            mw = re.match(r"[A-Za-z_]\w*", text[i:])
            out.append(mw.group(0))
            i += mw.end()
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _zip_fold(items: list[tuple[str, str]]) -> str:
    """Lockstep-zip N array expressions into one ``array<struct>`` whose
    field names are the element aliases, via right-folded ``zip_with``
    (explicit struct field names — ``arrays_zip`` can't name fields for
    non-column expressions)."""
    (e1, n1), (e2, n2) = items[-2], items[-1]
    acc = (
        f"zip_with({e1}, {e2}, (__p, __q) -> "
        f"struct(__p AS {n1}, __q AS {n2}))"
    )
    fields = [n1, n2]
    for e, a in reversed(items[:-2]):
        inner = ", ".join(f"__s.{f} AS {f}" for f in fields)
        acc = (
            f"zip_with({e}, {acc}, (__p, __s) -> "
            f"struct(__p AS {a}, {inner}))"
        )
        fields = [a] + fields
    return acc


def _rewrite_array_joins(sql: str) -> str:
    pos = 0
    while True:
        m = _ARRAY_JOIN_PAT.search(sql, pos)
        if m is None:
            return sql
        direction = (m.group(1) or "INNER").upper()
        outer = "OUTER " if direction == "LEFT" else ""
        # (expr, element name, was in-place) per item
        items: list[tuple[str, str, bool]] = []
        i = _skip_ws(sql, m.end())
        while True:
            e = _array_join_expr_end(sql, i)
            expr = sql[i:e].strip()
            if not expr:
                raise ValueError("cannot parse ARRAY JOIN expression")
            i = _skip_ws(sql, e)
            alias = None
            ma = re.match(r"AS\s+([A-Za-z_]\w*)", sql[i:], re.IGNORECASE)
            if ma:
                alias = ma.group(1)
                i = _skip_ws(sql, i + ma.end())
            if alias is None:
                # CH in-place form: the array column keeps its name, its
                # value per output row is the element
                if not re.fullmatch(r"[A-Za-z_][\w.]*", expr):
                    raise ValueError(
                        f"ARRAY JOIN {expr!r} without AS over a computed "
                        "expression: CH names the in-place column by the "
                        "expression text, which Spark can't reproduce; "
                        "alias the element (ARRAY JOIN expr AS x)"
                    )
                items.append((expr, expr.rsplit(".", 1)[-1], True))
            else:
                items.append((expr, alias, False))
            if i < len(sql) and sql[i] == ",":
                i = _skip_ws(sql, i + 1)
                continue
            break
        nxt = re.match(r"[A-Za-z_]\w*", sql[i:])
        if nxt and nxt.group(0).lower() in _JOIN_STARTERS:
            raise ValueError(
                "ARRAY JOIN followed by another JOIN is not translated "
                "(Spark's LATERAL VIEW attaches after all joins); move "
                "ARRAY JOIN after the join or into a subquery"
            )
        names = [n for _, n, _ in items]
        if len(set(names)) != len(names):
            raise ValueError(
                f"ARRAY JOIN element names collide: {names}; not "
                "translated"
            )
        multi = len(items) > 1
        inplace = any(p for _, _, p in items)
        if not multi and not inplace:
            # fast path: one aliased array — a plain named explode, no
            # reference rewriting needed (the alias is a fresh name)
            expr, alias, _ = items[0]
            repl = (
                f"LATERAL VIEW {outer}explode({expr}) __ch_aj AS {alias} "
            )
            sql = sql[: m.start()] + repl + sql[i:]
            pos = m.start() + len(repl)
            continue
        # in-place and/or lockstep forms rewrite references inside the
        # owning SELECT block, so guard the constructs whose meaning the
        # rewrite could silently change
        bs, be = _owning_select_block(sql, m.start())
        pre, post = sql[bs : m.start()], sql[i:be]
        for item_text in _owning_select_items(sql, m.start()):
            if re.match(r"(?is)^(?:DISTINCT\s+|ALL\s+)?\*", item_text):
                raise ValueError(
                    "ARRAY JOIN (in-place or lockstep form) with a bare "
                    "'*' select list is not translated — CH's '*' would "
                    "include the replaced/zipped element columns; list "
                    "the columns explicitly"
                )
        for expr, name, is_inplace in items:
            if is_inplace and re.search(
                rf"\.\s*{re.escape(name)}\b", pre + post
            ):
                raise ValueError(
                    f"in-place ARRAY JOIN {expr!r}: a qualified "
                    f"'.{name}' reference elsewhere in the block is "
                    "ambiguous between the array and its element; "
                    "alias the element (ARRAY JOIN arr AS x)"
                )
        if multi:
            zipped = _zip_fold([(e, n) for e, n, _ in items])
            # CH errors on unequal lockstep sizes where zip_with would
            # silently pad with NULLs — reproduce the error (row-local
            # check; the message avoids rewriter keywords so the raw
            # literal is inert to later passes and re-masks on re-entry)
            first = items[0][0]
            # NULL arrays stay the no-op they already were (zip_with
            # propagates NULL, explode drops it); only a real size
            # mismatch errors
            sizechk = " AND ".join(
                f"(size({first}) = size({e}) OR {first} IS NULL "
                f"OR {e} IS NULL)"
                for e, _, _ in items[1:]
            )
            zipped = (
                f"if({sizechk}, {zipped}, "
                f"raise_error('lockstep arrays have different sizes'))"
            )
            repl = (
                f"LATERAL VIEW {outer}explode({zipped}) "
                f"__ch_aj AS __ch_ajz "
            )
            subs = [(n, f"__ch_ajz.{n}") for _, n, _ in items]
        else:
            expr, name, _ = items[0]
            repl = (
                f"LATERAL VIEW {outer}explode({expr}) __ch_aj AS {name} "
            )
            subs = [(name, f"__ch_aj.{name}")]
        for name, target in subs:
            pre = _replace_bare_ident(pre, name, target)
            post = _replace_bare_ident(post, name, target)
        sql = sql[:bs] + pre + repl + post + sql[be:]
        pos = bs + len(pre) + len(repl)


# SQL words after which `and(...)` / `or(...)` / `not(...)` can only be the
# CH FUNCTION form (they open an expression slot). A preceding token that
# instead ENDS an expression — a non-keyword identifier, literal, `)`, `]`,
# or a masked string literal — means the match is SQL's infix/prefix
# keyword followed by a parenthesized operand or tuple, which must pass
# through untouched (ADVICE r06 #1: `x = 1 and (a, b) IN (...)`).
_EXPR_OPENING_KEYWORDS = frozenset(
    {
        "select", "where", "having", "when", "then", "else", "on", "by",
        "and", "or", "not", "in", "all", "any", "some", "distinct", "as",
        "case", "if", "between", "like", "rlike", "ilike", "regexp",
        "from", "join", "set", "limit", "offset", "union", "except",
        "intersect", "values", "over", "filter", "exists", "is",
    }
)


def _is_infix_context(sql: str, call_start: int) -> bool:
    """True when the token immediately before ``call_start`` ends an
    expression, so a following ``and/or/not (...)`` is the SQL keyword
    form rather than the CH variadic-function form."""
    i = call_start - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    if i < 0:
        return False
    c = sql[i]
    if c in ")]'\"`\x00":  # close-paren / array / literal / masked literal
        return True
    if c.isdigit():
        return True
    if c.isalpha() or c == "_":
        j = i
        while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
            j -= 1
        word = sql[j + 1 : i + 1].lower()
        return word not in _EXPR_OPENING_KEYWORDS
    return False  # operator chars, '(', ',' etc. open an expression


def _rewrite_logical_calls(sql: str, name: str, build) -> str:
    """Like :func:`_rewrite_calls` but the builder also receives whether
    the call site sits in infix-keyword context (see
    :func:`_is_infix_context`); builders emit a ``\\x01``-wrapped
    passthrough there, which never re-matches, so the rescan terminates."""
    pos = 0
    while True:
        found = _find_call(sql, name, pos)
        if found is None:
            return sql
        s, e, args = found
        repl = build(args, _is_infix_context(sql, s))
        sql = sql[:s] + repl + sql[e:]
        pos = s


def translate(
    sql: str,
    table_map: dict[str, str] | None = None,
    timestamp_columns: tuple[str, ...] = ("execute_time", "ctime", "end_time"),
) -> str:
    """Translate a ClickHouse SQL string to Spark SQL (module docstring)."""
    # mask string literals so no rule rewrites quoted text ('argMax(x)' as
    # a VALUE must survive untouched); restored verbatim at the end
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00L{len(literals) - 1}\x00"

    # both CH escape styles: doubled quotes ('don''t') AND backslash
    # escapes ('don\'t') — else the rename pass could rewrite function
    # names appearing inside string VALUES
    out = re.sub(r"'(?:[^'\\]|\\.|'')*'", _mask, sql)

    # CH resolves function names that exist in standard SQL
    # case-INSENSITIVELY (POSITION, ANY, COUNT, SUM, ...). Two of them
    # have case-sensitive rewrite rules below whose bypass is silently
    # wrong in Spark (ADVICE r05 #1): POSITION(haystack, needle) would
    # hit Spark's position(substr, str) with swapped roles, and
    # Any(x)/ANY(x) would hit Spark's any = bool_or. Normalize every
    # casing to the lowercase spelling the rules match. Only applied to
    # NAME( call sites, so the ANY JOIN strictness keyword (followed by
    # join keywords, never '(') keeps failing loudly. The other
    # case-insensitive names either translate identically in Spark
    # (count/sum/min/max/avg/coalesce) or are CH-specific camelCase
    # (countIf, anyLast, ...) that CH itself treats case-sensitively.
    out = re.sub(r"\bposition(?=\s*\()", "position", out,
                 flags=re.IGNORECASE)
    out = re.sub(r"\bany(?=\s*\()", "any", out, flags=re.IGNORECASE)

    # ORDER BY ... WITH FILL [FROM/TO/STEP] / INTERPOLATE: a structural
    # gap-fill that adds rows — a text-level rewrite cannot know the
    # non-fill columns to NULL-pad, so it stays LOUD with the migration
    # path (the engine's date-spine gap-fill operator) instead of
    # letting Spark's parser produce an opaque syntax error.
    if re.search(r"\bWITH\s+FILL\b", out, flags=re.IGNORECASE):
        raise ValueError(
            "ORDER BY ... WITH FILL adds spine rows and is not "
            "translated textually — use the gap-fill operator "
            "(operators/windows.py daily_counts_gapfilled: a sequence() "
            "date spine + broadcast left join) for the migrated job"
        )

    # clause strips (before function work: SETTINGS may contain '=').
    # SETTINGS are engine hints and strip freely — EXCEPT the handful
    # that change query RESULTS, which fail loudly rather than being
    # silently ignored. Note the standing narrowing: CH's DEFAULT
    # join_use_nulls=0 fills unmatched outer-join columns with type
    # defaults (0, '') where Spark yields NULL — translated joins use
    # NULL (ANSI) semantics, i.e. behave as join_use_nulls=1.
    sm = re.search(r"(?is)\bSETTINGS\b([^;]*)$", out)
    if sm:
        for name, want in (
            ("join_use_nulls", "0"),
            ("any_join_distinct_right_table_keys", "1"),
            ("aggregate_functions_null_for_empty", "1"),
            ("empty_result_for_aggregation_by_empty_set", "1"),
        ):
            if re.search(
                rf"(?i)\b{name}\s*=\s*{want}\b", sm.group(1)
            ):
                raise ValueError(
                    f"SETTINGS {name}={want} changes query RESULTS "
                    "and has no Spark equivalent (translated joins/"
                    "aggregates use ANSI NULL semantics = "
                    "join_use_nulls=1); drop the setting or adapt "
                    "the query"
                )
    out = re.sub(r"\bSETTINGS\b[^;]*$", "", out, flags=re.IGNORECASE)
    out = re.sub(r"\bFORMAT\s+\w+\s*$", "", out, flags=re.IGNORECASE)
    out = re.sub(r"\bFINAL\b", "", out)

    # PREWHERE: CH's scan-stage predicate — on Spark, predicate pushdown
    # into the parquet scan is exactly what PREWHERE hand-implements, so
    # it folds into WHERE. ``PREWHERE a WHERE b`` -> ``WHERE (a) AND (b)``
    # (CH applies both); a lone PREWHERE becomes the WHERE. Documented
    # subset: one level, like LIMIT BY.
    out = re.sub(
        r"\bPREWHERE\b(.*?)\bWHERE\b(.*?)(?=\bGROUP\s+BY\b|\bORDER\s+BY\b"
        r"|\bLIMIT\b|\bHAVING\b|$)",
        lambda m: f"WHERE ({m.group(1).strip()}) AND ({m.group(2).strip()}) ",
        out,
        flags=re.IGNORECASE | re.DOTALL,
    )
    out = re.sub(r"\bPREWHERE\b", "WHERE", out, flags=re.IGNORECASE)

    # GROUP BY ... WITH TOTALS: the totals row is exactly the () grouping
    # set, so the modifier rewrites to GROUPING SETS ((keys), ()).
    # Divergence, documented: Spark's totals row carries NULL keys where
    # CH shows the type default ('' / 0) — the grouping() marker is the
    # portable way to detect it on both engines. WITH ROLLUP / WITH CUBE
    # pass through (valid Spark syntax with identical semantics). One
    # outermost GROUP BY per statement, like PREWHERE / LIMIT BY.
    out = re.sub(
        r"\bGROUP\s+BY\s+(.*?)\s+WITH\s+TOTALS\b",
        lambda m: f"GROUP BY GROUPING SETS (({m.group(1).strip()}), ())",
        out,
        flags=re.IGNORECASE | re.DOTALL,
    )

    # qualified table names
    for ch_name, spark_name in (table_map or {}).items():
        out = re.sub(re.escape(ch_name) + r"\b", spark_name, out)

    # LIMIT n BY -> row_number window (before function rewrites; the
    # restructured text is then translated like any other query)
    # CH scalar WITH aliases: `WITH 300 AS iv SELECT iv ...` — Spark's
    # WITH is CTE-only and rejects scalar items. CONSTANT items (number
    # or masked string literal) are inlined by textual substitution; any
    # other WITH shape (CTEs, expression aliases that could capture
    # shadowed names) passes through untouched. Runs BEFORE the LIMIT BY
    # rewrite so the two features compose (the rewrite wraps the query in
    # a subquery, which would bury the WITH past the anchored match).
    m = re.match(
        r"(\s*)WITH\s+((?:(?:\d+(?:\.\d+)?|\x00L\d+\x00)\s+AS\s+\w+\s*,?\s*)+)"
        r"(?=SELECT\b)",
        out,
        flags=re.IGNORECASE,
    )
    if m:
        body = out[m.end():]
        for item in re.split(r",\s*", m.group(2).strip().rstrip(",")):
            im = re.match(
                r"(\d+(?:\.\d+)?|\x00L\d+\x00)\s+AS\s+(\w+)\s*$",
                item.strip(),
                flags=re.IGNORECASE,
            )
            if im:
                # guarded substitution: never inside a mask token (an
                # alias like "L0" would otherwise match within
                # \x00L0\x00 and corrupt an unrelated string literal),
                # never after '.' (qualified column t.iv), never as an
                # output alias (x AS iv, any whitespace after AS —
                # checked against the preceding text, since lookbehinds
                # can't span variable whitespace; implicit AS-less
                # aliases are outside the documented subset). The value
                # is parenthesized so a bare integer landing in GROUP
                # BY/ORDER BY cannot be reinterpreted as a positional
                # ordinal.
                const, alias = im.group(1), im.group(2)

                def _sub(mm, c=const):
                    if re.search(r"(?i)\bAS\s*$", mm.string[: mm.start()]):
                        return mm.group(0)
                    return f"({c})"

                body = re.sub(
                    rf"(?<![\w.\x00]){re.escape(alias)}\b(?!\x00)",
                    _sub,
                    body,
                )
        out = m.group(1) + body

    out = _rewrite_limit_by(out)

    # CH/MySQL-style `LIMIT offset, count` -> Spark's LIMIT count OFFSET
    # offset (Spark 3.4+). Anchored to clause end so a LIMIT inside a
    # subquery tail still matches its own clause only.
    out = re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)",
        lambda lm: f"LIMIT {lm.group(2)} OFFSET {lm.group(1)}",
        out,
        flags=re.IGNORECASE,
    )

    # CH `SAMPLE <fraction>` after a table ref -> TABLESAMPLE percent.
    # Both engines sample non-deterministically; row-count parity only.
    out = re.sub(
        r"\bSAMPLE\s+(0?\.\d+)\b",
        lambda sm: f"TABLESAMPLE ({float(sm.group(1)) * 100:g} PERCENT)",
        out,
        flags=re.IGNORECASE,
    )

    # CH DateTime difference idiom: max(ts) - min(ts) -> seconds
    for col in timestamp_columns:
        out = re.sub(
            rf"max\(\s*{col}\s*\)\s*-\s*min\(\s*{col}\s*\)",
            f"(unix_timestamp(max({col})) - unix_timestamp(min({col})))",
            out,
        )

    # parametric aggregates: quantile(p)(x) -> percentile(x, p);
    # the plural quantiles(p1, p2, ...)(x) returns an array in both
    # engines -> percentile(x, array(p1, p2, ...))
    # Exact/TDigest/Timing/Deterministic/BFloat16 variants all map to the
    # exact percentile — stronger than (or equal to) each CH estimator's
    # contract. The *Weighted forms map to percentile's 3-arg frequency
    # signature (exact weighted percentile — the same stronger-contract
    # rule; integral weights in both engines). Deterministic's
    # determinator argument changes semantics and stays loud.
    # -If twins of the parametric quantiles: NULL out non-matching rows
    # (percentile skips NULLs)
    out = re.sub(
        r"\bquantiles(?:Exact|TDigest|Timing|BFloat16)?If"
        r"\(([^()]*)\)\s*\(([^()]*),([^()]*)\)",
        r"percentile(if(\3, \2, NULL), array(\1))",
        out,
    )
    out = re.sub(
        r"\bquantile(?:Exact|TDigest|Timing|BFloat16)?If"
        r"\(([^()]*)\)\s*\(([^()]*),([^()]*)\)",
        r"percentile(if(\3, \2, NULL), \1)",
        out,
    )
    out = re.sub(
        r"\bquantiles(?:Exact|TDigest|Timing|BFloat16)?Weighted"
        r"\(([^()]*)\)\s*\(([^()]*),([^()]*)\)",
        r"percentile(\2, array(\1),\3)",
        out,
    )
    out = re.sub(
        r"\bquantile(?:Exact|TDigest|Timing|BFloat16)?Weighted"
        r"\(([^()]*)\)\s*\(([^()]*),([^()]*)\)",
        r"percentile(\2, \1,\3)",
        out,
    )
    out = re.sub(
        r"\bquantiles(?:Exact|TDigest|Timing|BFloat16)?"
        r"\(([^()]*)\)\s*\(([^()]*)\)",
        r"percentile(\2, array(\1))",
        out,
    )
    out = re.sub(
        r"\bquantile(?:Exact|TDigest|Timing|BFloat16)?"
        r"\(([^()]*)\)\s*\(([^()]*)\)",
        r"percentile(\2, \1)",
        out,
    )
    # quantileGK(accuracy[, level])(x): Greenwald-Khanna IS Spark's
    # approx_percentile sketch — approximate-for-approximate with the
    # same accuracy knob (round 9 probe sweep). Two-param form first so
    # the one-param (default median) regex can't eat the level.
    out = re.sub(
        r"\bquantilesGK\(([^(),]*),([^()]*)\)\s*\(([^()]*)\)",
        r"approx_percentile(\3, array(\2), \1)",
        out,
    )
    out = re.sub(
        r"\bquantileGK\(([^(),]*),([^()]*)\)\s*\(([^()]*)\)",
        r"approx_percentile(\3, \2, \1)",
        out,
    )
    out = re.sub(
        r"\bquantileGK\(([^(),]*)\)\s*\(([^()]*)\)",
        r"approx_percentile(\2, 0.5, \1)",
        out,
    )

    # CH behavioral parametric aggregates: name(params)(args) with
    # depth-aware parsing on BOTH lists (funnel conditions contain
    # parens/commas the quantile regexes above can't see)
    def _rewrite_parametric(sql, name, builder):
        while True:
            hit = _find_call(sql, name)
            if hit is None:
                return sql
            start, mid, params = hit
            m2 = re.compile(r"\s*\(").match(sql, mid)
            parsed = _parse_args(sql, m2.end()) if m2 else None
            if parsed is None:
                raise ValueError(
                    f"{name}(...) without its (args) list is not translated"
                )
            end, args = parsed
            sql = sql[:start] + builder(params, args) + sql[end:]

    def _rewrite_opt_parametric(sql, name, builder):
        """``name(args)`` or ``name(params)(args)`` — CH aggregates whose
        parameter list is optional (quantileMerge vs quantileMerge(0.9)).
        The builder receives ``(params_or_None, args)``."""
        while True:
            hit = _find_call(sql, name)
            if hit is None:
                return sql
            start, mid, first = hit
            m2 = re.compile(r"\s*\(").match(sql, mid)
            if m2:
                parsed = _parse_args(sql, m2.end())
                if parsed is None:
                    raise ValueError(f"cannot parse {name}(...)(...) args")
                end, args = parsed
                sql = sql[:start] + builder(first, args) + sql[end:]
            else:
                sql = sql[:start] + builder(None, first) + sql[mid:]

    def _window_funnel_agg(params, args):
        """windowFunnel(window)(ts, c1, c2, ...) -> the engine's
        documented anchored-greedy automaton (operators/funnels.py), as
        an inline JVM-side aggregate: collect the matching (t, step)
        events (non-matching rows never enter the per-user state), sort,
        fold. Narrowing vs CH: CH retries later c1 events as chain
        anchors, this engine anchors at the EARLIEST c1 event — same
        contract as the native window_funnel operator, documented there.
        An event satisfying several conditions counts as the FIRST
        matching step (CASE priority). CH mode flags (strict_order,
        strict_dedup, ...) change chain semantics and stay loud."""
        if len(params) != 1 or not re.fullmatch(r"\d+", params[0].strip()):
            raise ValueError(
                "windowFunnel: only a literal window-seconds parameter "
                "is translated (mode flags change chain semantics)"
            )
        if len(args) < 3:
            raise ValueError(
                "windowFunnel needs a time column and >= 2 conditions"
            )
        ts, conds = args[0], args[1:]
        win_us = int(params[0]) * 1_000_000
        pos = (
            "CASE "
            + " ".join(
                f"WHEN ({c}) THEN {i + 1}" for i, c in enumerate(conds)
            )
            + " ELSE 0 END"
        )
        return (
            f"aggregate(sort_array(collect_list(CASE WHEN ({pos}) > 0 "
            f"THEN named_struct('t', unix_micros({ts}), 'pos', {pos}) "
            "END)), named_struct('level', CAST(0 AS BIGINT), 't1', "
            "CAST(0 AS BIGINT), 'prev', CAST(0 AS BIGINT)), "
            "(acc, x) -> IF(x.pos = acc.level + 1 AND (acc.level = 0 OR "
            f"(x.t > acc.prev AND x.t <= acc.t1 + {win_us})), "
            "named_struct('level', acc.level + 1, 't1', "
            "IF(acc.level = 0, x.t, acc.t1), 'prev', x.t), acc)).level"
        )

    out = _rewrite_parametric(out, "windowFunnel", _window_funnel_agg)

    def _uniq_up_to(params, args):
        # exact CH contract: precise count up to N, N+1 past it
        if len(params) != 1 or not re.fullmatch(r"\d+", params[0].strip()):
            raise ValueError("uniqUpTo needs a literal N parameter")
        return (
            f"least(count(DISTINCT {', '.join(args)}), {int(params[0]) + 1})"
        )

    out = _rewrite_parametric(out, "uniqUpTo", _uniq_up_to)

    # retention(c1, ..., cn): r[1] = c1 ever held in the group; r[i>1] =
    # c1 AND ci both held (CH imposes no event ordering here) — exact
    # semantics via bool_or, 0/1 ints like CH's UInt8 array
    def _retention(a):
        if not a:
            raise ValueError("retention needs at least one condition")
        first = f"bool_or({a[0]})"
        elems = [f"int({first})"] + [
            f"int({first} AND bool_or({c}))" for c in a[1:]
        ]
        return f"array({', '.join(elems)})"

    out = _rewrite_calls(out, "retention", _retention)

    # topK(N)(x): CH's SpaceSaving heavy-hitter sketch returns ~N most
    # frequent values. The translation is the EXACT top-N by frequency
    # (stronger contract), ties broken by value ascending (deterministic;
    # CH's tie order is unspecified). Row-local post-aggregation cost is
    # O(distinct * n) per group over the collected list — fine for the
    # dashboard-cardinality groups topK is used on; a corpus-scale
    # heavy-hitter job belongs in an operator, not a scalar translation.
    # topKWeighted (below) is the same fold ranked by total weight.
    def _top_k(params, args):
        if len(params) != 1 or not re.fullmatch(r"\d+", params[0].strip()):
            raise ValueError("topK needs a literal N parameter")
        if len(args) != 1:
            raise ValueError("topK translates the single-column form only")
        n, x = int(params[0]), args[0]
        return (
            f"slice(transform(array_sort(transform("
            f"array_distinct(collect_list({x})), __d -> named_struct("
            f"'neg', -size(filter(collect_list({x}), __v -> __v <=> __d)), "
            f"'v', __d))), __s -> __s.v), 1, {n})"
        )

    out = _rewrite_parametric(out, "topK", _top_k)

    # topKWeighted(N)(x, w): rank by TOTAL WEIGHT instead of frequency —
    # the same exact fold with the count replaced by a weight sum
    # (round 8, VERDICT r07 #5). Ties break by value ascending, inside
    # CH's unspecified-tie contract. Weights sum as DOUBLE (CH widens
    # its UInt weights to UInt64; analytics weights are numeric either
    # way).
    def _top_k_weighted(params, args):
        if len(params) != 1 or not re.fullmatch(r"\d+", params[0].strip()):
            raise ValueError("topKWeighted needs a literal N parameter")
        if len(args) != 2:
            raise ValueError(
                "topKWeighted translates the (x, weight) form only"
            )
        n, x, w = int(params[0]), args[0], args[1]
        # NULL value or NULL weight rows are skipped like every CH
        # aggregate (review r08: a bare struct collect would rank NULL
        # as a value and a NULL weight would poison its value's total)
        pairs = (
            f"collect_list(IF(({x}) IS NOT NULL AND ({w}) IS NOT NULL, "
            f"named_struct('v', {x}, 'w', {w}), NULL))"
        )
        return (
            f"slice(transform(array_sort(transform("
            f"array_distinct(transform({pairs}, __p -> __p.v)), "
            f"__d -> named_struct('neg', -aggregate(filter({pairs}, "
            f"__p -> __p.v <=> __d), CAST(0 AS DOUBLE), "
            f"(__a, __p) -> __a + __p.w), "
            f"'v', __d))), __s -> __s.v), 1, {n})"
        )

    out = _rewrite_parametric(out, "topKWeighted", _top_k_weighted)

    # round-8 everyday batch (composed rewrites) ------------------------
    def _masked_lit(text: str) -> str:
        """Emit a string literal through the mask so later passes (the
        [..] -> array() bracket pass, function renames, ...) never see
        its contents — restored verbatim at the end of translate."""
        literals.append(f"'{text}'")
        return f"\x00L{len(literals) - 1}\x00"

    # isNaN: NULL-propagating (Spark's isnan(NULL) = false, CH = NULL)
    out = _rewrite_calls(
        out,
        "isNaN",
        lambda a: (
            f"IF(({a[0]}) IS NULL, CAST(NULL AS BOOLEAN), isnan({a[0]}))"
        ),
    )
    # toUUID: UUIDs are strings in this engine (generateUUIDv4 -> uuid);
    # validated + lowercased exactly like the toUUIDOrNull twin (review
    # r08: identity passthrough split upper/lowercase spellings of the
    # same UUID into distinct join/group keys) — malformed input fails
    # loudly at run time where CH throws at parse.
    _UUID_RE = (
        "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
    )
    out = _rewrite_calls(
        out,
        "toUUID",
        lambda a: (
            f"coalesce(assert_true(({a[0]}) IS NULL OR ({a[0]}) rlike "
            + _masked_lit(_UUID_RE)
            + f", 'toUUID: malformed UUID'), lower({a[0]}))"
        ),
    )
    # mapFilter/mapUpdate: Spark spells them (map, lambda) / precedence
    # composition (map_concat REJECTS duplicate keys by default, so the
    # m1-side is pre-filtered to give m2 precedence like CH). m2 is
    # bound ONCE via a single-element transform (review r08: splicing it
    # twice re-evaluates nondeterministic/expensive expressions and can
    # desynchronize into a duplicate-key error).
    out = _rewrite_calls(
        out, "mapFilter", lambda a: f"map_filter({a[1]}, {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "mapUpdate",
        lambda a: (
            f"element_at(transform(array({a[1]}), __m2 -> "
            f"map_concat(map_filter({a[0]}, (__mk, __mv) -> "
            f"NOT map_contains_key(__m2, __mk)), __m2)), 1)"
        ),
    )
    # (randNormal/randUniform translate in the round-7 batch below)
    # IPv4 dotted-quad <-> UInt32 (CH stores IPv4 as numbers). The
    # number is bound once (review r08: four splices evaluated a
    # nondeterministic argument four times, stitching a quad from four
    # different values); malformed strings fail loudly like CH throws.
    # Range guard (ADVICE r09 #3): CH's argument is UInt32-typed so
    # out-of-range input is impossible there; an unguarded shiftright
    # over a raw bigint would silently emit a wrong dotted quad for
    # negatives or values >= 2^32. assert_true mirrors the intExp2
    # pattern (loud at run time; NULL propagates like CH Nullable).
    out = _rewrite_calls(
        out,
        "IPv4NumToString",
        lambda a: (
            f"element_at(transform(array(CAST({a[0]} AS BIGINT)), __ip -> "
            f"coalesce(assert_true(__ip IS NULL OR "
            f"__ip BETWEEN 0 AND 4294967295, "
            f"'IPv4NumToString: value out of UInt32 range'), "
            f"concat(CAST(shiftright(__ip, 24) & 255 AS STRING), '.', "
            f"CAST(shiftright(__ip, 16) & 255 AS STRING), '.', "
            f"CAST(shiftright(__ip, 8) & 255 AS STRING), '.', "
            f"CAST(__ip & 255 AS STRING)))), 1)"
        ),
    )
    _IPV4_RE = (
        "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\.){3}"
        "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
    )
    out = _rewrite_calls(
        out,
        "IPv4StringToNum",
        lambda a: (
            f"coalesce(assert_true(({a[0]}) IS NULL OR ({a[0]}) rlike "
            + _masked_lit(_IPV4_RE)
            + f", 'IPv4StringToNum: malformed IPv4'), "
            f"aggregate(split({a[0]}, {_masked_lit('[.]')}), "
            f"CAST(0 AS BIGINT), (__acc, __o) -> __acc * 256 + "
            f"CAST(__o AS BIGINT)))"
        ),
    )
    # round-9 everyday batch (probe-sweep gaps) --------------------------
    # isIPv4String: the validation half of IPv4StringToNum's guard —
    # 1/0 like CH's UInt8, NULL propagates on Nullable input
    out = _rewrite_calls(
        out,
        "isIPv4String",
        lambda a: (
            f"CAST(({a[0]}) rlike " + _masked_lit(_IPV4_RE) + " AS INT)"
        ),
    )
    # netloc: Spark's parse_url AUTHORITY is exactly CH's
    # [user[:pass]@]host[:port] slice
    out = _rewrite_calls(
        out,
        "netloc",
        lambda a: f"try_parse_url({a[0]}, " + _masked_lit("AUTHORITY") + ")",
    )
    # cutQueryString keeps the fragment (CH has the AndFragment variant
    # for the combined cut); cutFragment cuts '#' to end
    out = _rewrite_calls(
        out,
        "cutQueryString",
        lambda a: (
            f"regexp_replace({a[0]}, " + _masked_lit("[?][^#]*") + ", "
            + _masked_lit("") + ")"
        ),
    )
    out = _rewrite_calls(
        out,
        "cutFragment",
        lambda a: (
            f"regexp_replace({a[0]}, " + _masked_lit("#.*") + ", "
            + _masked_lit("") + ")"
        ),
    )
    out = _rewrite_calls(
        out,
        "cutQueryStringAndFragment",
        lambda a: (
            f"regexp_replace({a[0]}, " + _masked_lit("[?#].*") + ", "
            + _masked_lit("") + ")"
        ),
    )
    # arrayPartialSort(n, arr): CH's contract is "first n elements
    # sorted ascending, tail in unspecified order" — a FULL sort is a
    # valid instance of that contract (and the deterministic one)
    out = _rewrite_calls(
        out, "arrayPartialSort", lambda a: f"array_sort({a[1]})"
    )
    # arrayRotateLeft(arr, n): negative n rotates right like CH; the
    # array and the normalized shift are each bound once
    out = _rewrite_calls(
        out,
        "arrayRotateLeft",
        lambda a: (
            f"element_at(transform(array({a[0]}), __a -> "
            f"IF(size(__a) <= 1, __a, element_at(transform("
            f"array(pmod({a[1]}, size(__a))), __k -> "
            f"concat(slice(__a, __k + 1, size(__a) - __k), "
            f"slice(__a, 1, __k))), 1))), 1)"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayRotateRight",
        lambda a: (
            f"element_at(transform(array({a[0]}), __a -> "
            f"IF(size(__a) <= 1, __a, element_at(transform("
            f"array(pmod(-({a[1]}), size(__a))), __k -> "
            f"concat(slice(__a, __k + 1, size(__a) - __k), "
            f"slice(__a, 1, __k))), 1))), 1)"
        ),
    )
    # formatReadableQuantity: the decimal-size pattern with word units
    def _format_readable_quantity(a):
        b = f"CAST({a[0]} AS DOUBLE)"
        e = (
            f"greatest(0, least(5, CAST(floor(log(1000, "
            f"greatest(abs({b}), 1))) AS INT)))"
        )
        units = (
            "array('', ' thousand', ' million', ' billion', "
            "' trillion', ' quadrillion')"
        )
        return (
            f"format_string('%.2f%s', {b} / pow(1000, {e}), "
            f"element_at({units}, {e} + 1))"
        )

    out = _rewrite_calls(
        out, "formatReadableQuantity", _format_readable_quantity
    )

    # bar(x, min, max, width): CH's unicode band with EIGHTH-block
    # precision (█ full cells + one ▏▎▍▌▋▊▉ partial); x clamps to
    # [min, max] like CH clips out-of-range values. x is bound once (to
    # ``__bx``) so a NULL x propagates to a NULL band like CH's Nullable
    # pass-through — without the guard, greatest/least SKIP the NULL and
    # the band silently collapses to '' (ADVICE r09, the same
    # NULL-divergence class as roundDuration/isNaN). The scaled width is
    # likewise bound once.
    def _bar(a):
        if len(a) != 4:
            raise ValueError("bar expects (x, min, max, width)")
        x, lo, hi, w = a
        wu = (
            f"least(CAST({w} AS DOUBLE), greatest(0.0, "
            f"(__bx - ({lo})) / (({hi}) - ({lo})) * ({w})))"
        )
        eighths = "array(" + ", ".join(
            _masked_lit(c)
            for c in (
                "", "▏", "▎", "▍",
                "▌", "▋", "▊", "▉",
            )
        ) + ")"
        return (
            f"element_at(transform(array(CAST({x} AS DOUBLE)), __bx -> "
            f"IF(__bx IS NULL, CAST(NULL AS STRING), "
            f"element_at(transform(array({wu}), __wu -> "
            f"concat(repeat({_masked_lit(chr(0x2588))}, "
            f"CAST(floor(__wu) AS INT)), "
            f"element_at({eighths}, CAST(floor((__wu - floor(__wu)) * 8) "
            f"AS INT) + 1))), 1))), 1)"
        )

    out = _rewrite_calls(out, "bar", _bar)
    # deltaSumTimestamp(value, ts): sum of positive deltas between
    # consecutive values in TIMESTAMP order — the deterministic member
    # of CH's delta family (bare deltaSum depends on part order inside
    # CH itself and stays loud as nondeterministic-by-design). One
    # collect+sort fold per group, all JVM-side.
    def _delta_sum_timestamp(a):
        if len(a) != 2:
            raise ValueError("deltaSumTimestamp expects (value, ts)")
        v, ts = a
        pairs = (
            f"array_sort(collect_list(IF(({v}) IS NOT NULL AND "
            f"({ts}) IS NOT NULL, named_struct('t', {ts}, 'v', {v}), "
            f"NULL)))"
        )
        return (
            f"aggregate({pairs}, "
            f"named_struct('s', CAST(0 AS DOUBLE), "
            f"'prev', CAST(NULL AS DOUBLE), 'init', false), "
            f"(__a, __e) -> named_struct("
            f"'s', __a.s + IF(__a.init AND CAST(__e.v AS DOUBLE) > "
            f"__a.prev, CAST(__e.v AS DOUBLE) - __a.prev, 0.0D), "
            f"'prev', CAST(__e.v AS DOUBLE), 'init', true), "
            f"__a -> __a.s)"
        )

    out = _rewrite_calls(out, "deltaSumTimestamp", _delta_sum_timestamp)

    def _delta_sum_loud(a):
        raise ValueError(
            "deltaSum depends on CH's data-part order (nondeterministic "
            "by design) — use deltaSumTimestamp(value, ts) for the "
            "order-defined form"
        )

    out = _rewrite_calls(out, "deltaSum", _delta_sum_loud)

    # sleep/sleepEachRow: a wall-clock side effect has no place in a
    # declarative distributed plan — loud, not a silent no-op
    for _fn in ("sleep", "sleepEachRow"):
        out = _rewrite_calls(
            out,
            _fn,
            lambda a, f=_fn: (_ for _ in ()).throw(ValueError(
                f"{f}() is a wall-clock side effect with no Spark "
                "translation — remove it from the query"
            )),
        )

    # round-9 second everyday batch (probe-sweep gaps) -------------------
    # --- math / rounding
    # trunc(x[, n]): CH's NUMERIC truncation toward zero. Spark's own
    # trunc is DATE truncation — the passthrough would fail analysis (no
    # silent path, but the everyday numeric form deserves a real
    # mapping): floor for positives, ceil for negatives, via Spark's
    # scaled floor/ceil. Result is DOUBLE like CH's Float64.
    def _trunc(a):
        if len(a) == 1:
            body = "IF(__t >= 0, floor(__t), ceil(__t))"
        elif len(a) == 2:
            body = f"IF(__t >= 0, floor(__t, {a[1]}), ceil(__t, {a[1]}))"
        else:
            raise ValueError("trunc expects (x) or (x, n)")
        return (
            f"CAST(element_at(transform(array(CAST({a[0]} AS DOUBLE)), "
            f"__t -> {body}), 1) AS DOUBLE)"
        )

    out = _rewrite_calls(out, "truncate", _trunc)  # CH alias
    out = _rewrite_calls(out, "trunc", _trunc)
    out = _rewrite_calls(out, "exp10", lambda a: f"power(10, {a[0]})")
    # roundDuration/roundAge: CH's fixed-breakpoint rounders (legacy
    # Yandex.Metrica buckets, still everyday dashboard fodder)
    _DURATION_STEPS = (
        1, 10, 30, 60, 120, 180, 240, 300, 600,
        1200, 1800, 3600, 7200, 18000, 36000,
    )
    # NULL leads the CASE chains: every WHEN is NULL on NULL input, so
    # without the guard the ELSE arm would silently answer the top
    # bucket where CH propagates NULL
    out = _rewrite_calls(
        out,
        "roundDuration",
        lambda a: (
            f"element_at(transform(array({a[0]}), __t -> CASE"
            " WHEN __t IS NULL THEN CAST(NULL AS INT)"
            " WHEN __t < 1 THEN 0"
            + "".join(
                f" WHEN __t < {hi} THEN {lo}"
                for lo, hi in zip(_DURATION_STEPS, _DURATION_STEPS[1:])
            )
            + f" ELSE {_DURATION_STEPS[-1]} END), 1)"
        ),
    )
    out = _rewrite_calls(
        out,
        "roundAge",
        lambda a: (
            f"element_at(transform(array({a[0]}), __t -> CASE "
            "WHEN __t IS NULL THEN CAST(NULL AS INT) "
            "WHEN __t < 1 THEN 0 WHEN __t < 18 THEN 17 "
            "WHEN __t < 25 THEN 18 WHEN __t < 35 THEN 25 "
            "WHEN __t < 45 THEN 35 WHEN __t < 55 THEN 45 "
            "ELSE 55 END), 1)"
        ),
    )

    # --- moment aggregates
    # CH kurtPop is the RAW fourth-moment ratio m4/sigma^4 (~3 for a
    # normal distribution) while Spark's kurtosis is EXCESS (m4/sigma^4
    # - 3): the old rename-table mapping silently answered 3 too low —
    # the round()/translate() silent-divergence class (round-9b review).
    # skewSamp/kurtSamp divide by sample variance instead: CH computes
    # mk/varSamp^(k/2) = pop-form * ((n-1)/n)^(k/2).
    out = _rewrite_calls(
        out,
        "kurtPop",
        lambda a: f"(kurtosis({a[0]}) + CAST(3 AS DOUBLE))",
    )
    out = _rewrite_calls(
        out,
        "skewSamp",
        lambda a: (
            f"(skewness({a[0]}) * power((count({a[0]}) - 1) / "
            f"CAST(count({a[0]}) AS DOUBLE), 1.5))"
        ),
    )
    out = _rewrite_calls(
        out,
        "kurtSamp",
        lambda a: (
            f"((kurtosis({a[0]}) + CAST(3 AS DOUBLE)) * "
            f"power((count({a[0]}) - 1) / "
            f"CAST(count({a[0]}) AS DOUBLE), 2))"
        ),
    )
    # groupBitmap: CH materializes a roaring bitmap to COUNT distinct —
    # the answer is exactly count(DISTINCT)
    out = _rewrite_calls(
        out, "groupBitmap", lambda a: f"count(DISTINCT {a[0]})"
    )

    # --- date / time
    # timestamp_add/timestamp_sub spellings: plain interval arithmetic
    def _ts_arith(op, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(f"{ch_fn} expects (ts, interval)")
            return f"({a[0]} {op} {a[1]})"

        return build

    out = _rewrite_calls(out, "timestampAdd", _ts_arith("+", "timestampAdd"))
    out = _rewrite_calls(out, "timestampSub", _ts_arith("-", "timestampSub"))

    def _make_date(a):
        if len(a) == 3:
            return f"make_date({a[0]}, {a[1]}, {a[2]})"
        if len(a) == 2:  # (year, day-of-year)
            return (
                f"date_add(make_date({a[0]}, 1, 1), "
                f"CAST({a[1]} AS INT) - 1)"
            )
        raise ValueError("makeDate expects (y, m, d) or (y, dayofyear)")

    out = _rewrite_calls(out, "makeDate32", _make_date)
    out = _rewrite_calls(out, "makeDate", _make_date)

    def _make_datetime(a):
        if len(a) != 6:
            raise ValueError(
                "makeDateTime expects (y, m, d, h, mi, s); a timezone "
                "argument is not translated"
            )
        return "make_timestamp(" + ", ".join(a) + ")"

    out = _rewrite_calls(out, "makeDateTime", _make_datetime)
    # ISO week-year: the year of the Thursday of d's ISO week (Spark's
    # date_trunc('WEEK') is the ISO Monday); start-of-ISO-year is the
    # Monday of the week containing Jan 4 of that ISO year
    out = _rewrite_calls(
        out,
        "toISOYear",
        lambda a: f"year(date_add(date_trunc('WEEK', {a[0]}), 3))",
    )
    out = _rewrite_calls(
        out,
        "toStartOfISOYear",
        lambda a: (
            f"to_date(date_trunc('WEEK', make_date("
            f"year(date_add(date_trunc('WEEK', {a[0]}), 3)), 1, 4)))"
        ),
    )
    out = _rewrite_calls(
        out,
        "toYYYYMMDDhhmmss",
        lambda a: (
            f"CAST(date_format({a[0]}, "
            + _masked_lit("yyyyMMddHHmmss")
            + ") AS BIGINT)"
        ),
    )
    # toRelativeYearNum/MonthNum complete the toRelative* family (the
    # Day/Hour/Minute/Second members live below with the older batches):
    # CH counts years AD and months since year 0
    out = _rewrite_calls(
        out, "toRelativeYearNum", lambda a: f"year({a[0]})"
    )
    out = _rewrite_calls(
        out,
        "toRelativeMonthNum",
        lambda a: f"(year({a[0]}) * 12 + month({a[0]}))",
    )

    # parseDateTime(str, '%Y-%m-%d'): CH's MySQL-style %-token parser —
    # the same token table formatDateTime uses, pointed at to_timestamp;
    # OrNull rides try_to_timestamp. A non-literal format or a timezone
    # argument stays loud.
    def _parse_datetime(try_form, ch_fn):
        fn = "try_to_timestamp" if try_form else "to_timestamp"

        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (str, format); a timezone argument "
                    "is not translated"
                )
            m2 = re.fullmatch(r"\x00L(\d+)\x00", a[1].strip())
            if not m2:
                raise ValueError(
                    f"{ch_fn}: the format must be a string literal"
                )
            raw = literals[int(m2.group(1))]
            converted = _convert_ch_datetime_format(raw[1:-1])
            literals.append("'" + converted.replace("'", "\\'") + "'")
            return f"{fn}({a[0]}, \x00L{len(literals) - 1}\x00)"

        return build

    out = _rewrite_calls(
        out, "parseDateTimeOrNull", _parse_datetime(True, "parseDateTimeOrNull")
    )
    out = _rewrite_calls(
        out, "parseDateTime", _parse_datetime(False, "parseDateTime")
    )

    # Joda syntax is the java.time pattern family Spark itself speaks
    def _parse_joda(try_form, ch_fn):
        fn = "try_to_timestamp" if try_form else "to_timestamp"

        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (str, format); a timezone argument "
                    "is not translated"
                )
            return f"{fn}({a[0]}, {a[1]})"

        return build

    out = _rewrite_calls(
        out,
        "parseDateTimeInJodaSyntaxOrNull",
        _parse_joda(True, "parseDateTimeInJodaSyntaxOrNull"),
    )
    out = _rewrite_calls(
        out,
        "parseDateTimeInJodaSyntax",
        _parse_joda(False, "parseDateTimeInJodaSyntax"),
    )
    # Twitter snowflake ids: ms-since-2010-11-04T01:42:54.657 in the top
    # 42 bits (the public epoch constant 1288834974657). shiftright as a
    # FUNCTION, not the >> operator: Spark's parser rejects >> when a
    # higher-order lambda (->) appears earlier in the same statement.
    for _fn in ("snowflakeToDateTime", "snowflakeToDateTime64"):
        out = _rewrite_calls(
            out,
            _fn,
            lambda a: (
                f"timestamp_millis(shiftright(CAST({a[0]} AS BIGINT), 22) "
                f"+ 1288834974657)"
            ),
        )
    for _fn in ("dateTimeToSnowflake", "dateTime64ToSnowflake"):
        out = _rewrite_calls(
            out,
            _fn,
            lambda a: (
                f"shiftleft(unix_millis(CAST({a[0]} AS TIMESTAMP)) "
                f"- 1288834974657, 22)"
            ),
        )

    # --- strings
    for _fn in ("editDistance", "levenshteinDistance"):
        out = _rewrite_calls(
            out, _fn, lambda a: f"levenshtein({a[0]}, {a[1]})"
        )
    out = _rewrite_calls(out, "initcapUTF8", lambda a: f"initcap({a[0]})")
    # Spark's lpad/rpad count CHARACTERS — exactly the UTF8 variants'
    # contract (the byte-counting plain leftPad/rightPad family is
    # handled with the older batches)
    out = _rewrite_calls(
        out, "leftPadUTF8", lambda a: "lpad(" + ", ".join(a) + ")"
    )
    out = _rewrite_calls(
        out, "rightPadUTF8", lambda a: "rpad(" + ", ".join(a) + ")"
    )
    out = _rewrite_calls(
        out,
        "appendTrailingCharIfAbsent",
        lambda a: (
            f"element_at(transform(array({a[0]}), __t -> "
            f"IF(endswith(__t, {a[1]}), __t, concat(__t, {a[1]}))), 1)"
        ),
    )

    # replaceOne: first-occurrence-only replace (Spark's replace/
    # regexp_replace hit every occurrence) — locate + splice, with the
    # haystack and the match position bound once
    def _replace_one(a):
        if len(a) != 3:
            raise ValueError(
                "replaceOne expects (haystack, pattern, replacement)"
            )
        s, pat, rep = a
        return (
            f"element_at(transform(array(named_struct("
            f"'s', {s}, 'p', locate({pat}, {s}))), __t -> "
            f"IF(__t.p = 0, __t.s, concat(substr(__t.s, 1, __t.p - 1), "
            f"{rep}, substr(__t.s, __t.p + length({pat}))))), 1)"
        )

    out = _rewrite_calls(out, "replaceOne", _replace_one)

    # toDecimalString(x, n): fixed-scale decimal rendering; scale must
    # be a literal (Spark decimals are compile-time typed). CH allows up
    # to 77 digits — beyond our decimal(38) window stays loud.
    def _to_decimal_string(a):
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            raise ValueError(
                "toDecimalString expects (x, literal scale)"
            )
        n = int(a[1])
        if n > 37:
            raise ValueError(
                "toDecimalString: scale beyond decimal(38) is not "
                "representable here"
            )
        return f"CAST(CAST({a[0]} AS DECIMAL(38, {n})) AS STRING)"

    out = _rewrite_calls(out, "toDecimalString", _to_decimal_string)

    # multiSearch family: positions are 1-based, 0 = not found (CH and
    # Spark's locate agree on both conventions)
    out = _rewrite_calls(
        out,
        "multiSearchAllPositions",
        lambda a: f"transform({a[1]}, __n -> locate(__n, {a[0]}))",
    )
    out = _rewrite_calls(
        out,
        "multiSearchFirstPosition",
        lambda a: (
            f"coalesce(array_min(filter(transform({a[1]}, "
            f"__n -> locate(__n, {a[0]})), __p -> __p > 0)), 0)"
        ),
    )
    out = _rewrite_calls(
        out,
        "multiSearchFirstIndex",
        lambda a: (
            f"coalesce(array_position(transform({a[1]}, "
            f"__n -> locate(__n, {a[0]}) > 0), true), 0)"
        ),
    )

    # --- URL getters
    # topLevelDomain: last host label; CH answers '' for hosts without a
    # valid TLD — the all-digit guard covers the everyday case (IPv4
    # hosts)
    def _top_level_domain(a):
        dot = _masked_lit("[.]")
        digits = _masked_lit("^[0-9]+$")
        return (
            f"element_at(transform(array(try_parse_url({a[0]}, 'HOST')), "
            f"__h -> CASE WHEN __h IS NULL THEN '' "
            f"WHEN element_at(split(__h, {dot}), -1) RLIKE {digits} "
            f"THEN '' "
            f"ELSE element_at(split(__h, {dot}), -1) END), 1)"
        )

    out = _rewrite_calls(out, "topLevelDomain", _top_level_domain)
    out = _rewrite_calls(
        out,
        "extractURLParameters",
        lambda a: (
            f"element_at(transform(array(try_parse_url({a[0]}, 'QUERY')), "
            f"__q -> IF(__q IS NULL OR __q = '', array(), "
            f"split(__q, " + _masked_lit("[&]") + "))), 1)"
        ),
    )
    out = _rewrite_calls(
        out,
        "extractURLParameterNames",
        lambda a: (
            f"element_at(transform(array(try_parse_url({a[0]}, 'QUERY')), "
            f"__q -> IF(__q IS NULL OR __q = '', array(), "
            f"transform(split(__q, " + _masked_lit("[&]") + "), "
            f"__kv -> split_part(__kv, " + _masked_lit("=") + ", 1)))), 1)"
        ),
    )
    out = _rewrite_calls(
        out,
        "queryStringAndFragment",
        lambda a: (
            f"element_at(transform(array(named_struct("
            f"'q', try_parse_url({a[0]}, 'QUERY'), "
            f"'r', try_parse_url({a[0]}, 'REF'))), __t -> "
            f"concat(coalesce(__t.q, ''), "
            f"IF(__t.r IS NULL, '', concat(" + _masked_lit("#")
            + ", __t.r)))), 1)"
        ),
    )

    # tryBase64Decode: '' on malformed input (CH's contract), NULL in /
    # NULL out; the strict base64Decode throws in both engines
    out = _rewrite_calls(
        out,
        "tryBase64Decode",
        lambda a: (
            f"element_at(transform(array({a[0]}), __b -> "
            f"IF(__b IS NULL, NULL, coalesce("
            f"CAST(try_to_binary(__b, 'base64') AS STRING), ''))), 1)"
        ),
    )
    # splitByRegexp(re, s) -> split(s, re, -1): both keep empty tokens
    # at separator boundaries (limit -1 keeps Spark's trailing empties)
    out = _rewrite_calls(
        out, "splitByRegexp", lambda a: f"split({a[1]}, {a[0]}, -1)"
    )
    # base64URLEncode/Decode + tryBase64URLDecode (round 10): the
    # URL-safe alphabet is a character translation away from standard
    # base64 (+/ <-> -_; CH omits '=' padding on encode — stripped to
    # match, and re-padded before decode since Spark's decoder wants it)
    out = _rewrite_calls(
        out,
        "base64URLEncode",
        lambda a: (
            f"translate(rtrim('=', base64(CAST({a[0]} AS BINARY))), "
            f"'+/', '-_')"
        ),
    )

    def _b64url_decode(strict):
        def build(a):
            pad = (
                f"element_at(transform(array(translate({a[0]}, '-_', "
                f"'+/')), __bu -> concat(__bu, repeat('=', "
                f"(4 - length(__bu) % 4) % 4))), 1)"
            )
            if strict:
                return f"CAST(to_binary({pad}, 'base64') AS STRING)"
            return (
                f"element_at(transform(array({pad}), __bv -> "
                f"IF(__bv IS NULL, NULL, coalesce("
                f"CAST(try_to_binary(__bv, 'base64') AS STRING), ''))), 1)"
            )

        return build

    out = _rewrite_calls(out, "tryBase64URLDecode", _b64url_decode(False))
    out = _rewrite_calls(out, "base64URLDecode", _b64url_decode(True))
    # toStartOfSecond: sub-second truncation
    out = _rewrite_calls(
        out, "toStartOfSecond", lambda a: f"date_trunc('second', {a[0]})"
    )
    # roundToExp2: round DOWN to the nearest power of two (CH: values
    # below 1 -> 0); NULL-propagating
    out = _rewrite_calls(
        out,
        "roundToExp2",
        lambda a: (
            f"element_at(transform(array(CAST({a[0]} AS DOUBLE)), "
            f"__re -> CASE WHEN __re IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN __re < 1.0 THEN 0.0 "
            f"ELSE power(2.0, floor(log2(__re))) END), 1)"
        ),
    )
    # byteHammingDistance: differing positions + the length difference.
    # Same CHARACTER-vs-byte narrowing as stringJaccardIndex (identical
    # for ASCII, multi-byte text diverges — documented).
    out = _rewrite_calls(
        out,
        "byteHammingDistance",
        lambda a: (
            f"element_at(transform(array(named_struct("
            f"'a', filter(split({a[0]}, ''), __hf -> __hf != ''), "
            f"'b', filter(split({a[1]}, ''), __hf -> __hf != ''))), __hd -> "
            f"CAST(size(filter(zip_with(slice(__hd.a, 1, "
            f"least(size(__hd.a), size(__hd.b))), slice(__hd.b, 1, "
            f"least(size(__hd.a), size(__hd.b))), "
            f"(__hx, __hy) -> __hx <> __hy), __hz -> __hz)) "
            f"+ abs(size(__hd.a) - size(__hd.b)) AS BIGINT)), 1)"
        ),
    )
    # stringJaccardIndex: |A∩B| / |A∪B| over the strings' symbol sets.
    # CH sets are BYTES; Spark splits to CHARACTERS — identical for
    # ASCII (matches CH's own doc example: ('clickhouse','mouse') =
    # 0.4), multi-byte text diverges (documented in COVERAGE.md). Both
    # empty -> 0.0.
    out = _rewrite_calls(
        out,
        "stringJaccardIndex",
        lambda a: (
            f"element_at(transform(array(named_struct("
            f"'a', filter(split({a[0]}, ''), __x -> __x != ''), "
            f"'b', filter(split({a[1]}, ''), __x -> __x != ''))), __t -> "
            f"IF(size(array_union(__t.a, __t.b)) = 0, CAST(0 AS DOUBLE), "
            f"CAST(size(array_intersect(__t.a, __t.b)) AS DOUBLE) / "
            f"size(array_union(__t.a, __t.b)))), 1)"
        ),
    )

    # arrayJaccardIndex (round-10 everyday batch): |A∩B| / |A∪B| over
    # array elements — the set form of stringJaccardIndex above. Both
    # empty -> CH answers nan; NULL here (the documented convention).
    out = _rewrite_calls(
        out,
        "arrayJaccardIndex",
        lambda a: (
            f"element_at(transform(array(named_struct("
            f"'a', {a[0]}, 'b', {a[1]})), __t -> "
            f"CAST(size(array_intersect(__t.a, __t.b)) AS DOUBLE) / "
            f"nullif(size(array_union(__t.a, __t.b)), 0)), 1)"
        ),
    )
    # Modified Julian Day: days since 1858-11-17 (both directions; CH
    # takes a String date — Spark's to_date handles that input shape)
    out = _rewrite_calls(
        out,
        "toModifiedJulianDay",
        lambda a: f"datediff(to_date({a[0]}), DATE '1858-11-17')",
    )
    out = _rewrite_calls(
        out,
        "fromModifiedJulianDay",
        lambda a: f"date_format(date_add(DATE '1858-11-17', {a[0]}), "
        "'yyyy-MM-dd')",
    )
    # unhex: Spark returns BINARY where CH returns String — cast so
    # downstream string comparisons keep CH's bytes-as-string reading.
    # (hex passes through name-matched: identical on String input, the
    # hex(MD5(x)) case; CH pads NUMERIC input to the type's byte width
    # where Spark prints minimal digits — documented, types are
    # invisible to text-level translation, same note as round()).
    out = _rewrite_calls(
        out, "unhex", lambda a: f"CAST(\x01unhex\x01({a[0]}) AS STRING)"
    )
    # char(n1[, n2, ...]): a string from character codes (CH interprets
    # each as a byte; Spark's char covers the ASCII range — identical on
    # 0..127, the everyday case; multi-byte codepoints differ)
    out = _rewrite_calls(
        out,
        "char",
        lambda a: (
            f"\x01char\x01({a[0]})"
            if len(a) == 1
            else "concat("
            + ", ".join(f"\x01char\x01({x})" for x in a)
            + ")"
        ),
    )
    # no later pass touches these two names — safe to unmask here
    out = out.replace("\x01unhex\x01", "unhex").replace(
        "\x01char\x01", "char"
    )

    # URLPathHierarchy: cumulative path prefixes — every intermediate
    # entry closes with '/', the LAST entry is the full path+query+
    # fragment remainder; URLHierarchy is the same list prefixed with
    # protocol://authority, led by protocol://authority/ .
    def _url_path_hierarchy(u):
        file_part = (
            f"concat(coalesce(try_parse_url({u}, 'FILE'), ''), "
            f"CASE WHEN try_parse_url({u}, 'REF') IS NULL THEN '' "
            f"ELSE concat('#', try_parse_url({u}, 'REF')) END)"
        )
        path = f"coalesce(try_parse_url({u}, 'PATH'), '')"
        return (
            f"element_at(transform(array(named_struct("
            f"'f', {file_part}, "
            f"'s', filter(split({path}, '/'), __x -> __x != ''))), "
            f"__t -> IF(size(__t.s) = 0, CAST(array() AS array<string>), "
            f"transform(sequence(1, size(__t.s)), __i -> "
            f"IF(__i < size(__t.s), "
            f"concat('/', array_join(slice(__t.s, 1, __i), '/'), '/'), "
            f"__t.f)))), 1)"
        )

    out = _rewrite_calls(
        out, "URLPathHierarchy", lambda a: _url_path_hierarchy(a[0])
    )

    def _url_hierarchy(a):
        base = (
            f"concat(coalesce(try_parse_url({a[0]}, 'PROTOCOL'), ''), "
            f"'://', coalesce(try_parse_url({a[0]}, 'AUTHORITY'), ''))"
        )
        return (
            f"IF(try_parse_url({a[0]}, 'HOST') IS NULL, "
            f"CAST(array() AS array<string>), "
            f"concat(array(concat({base}, '/')), "
            f"transform({_url_path_hierarchy(a[0])}, "
            f"__p -> concat({base}, __p))))"
        )

    out = _rewrite_calls(out, "URLHierarchy", _url_hierarchy)

    # firstSignificantSubdomain / cutToFirstSignificantSubdomain: the
    # label before the EFFECTIVE TLD, where the effective TLD is the
    # last host label — or the last TWO when they form <shortlist>.<cc>
    # (2-letter country code after com/net/org/...). CH embeds a full
    # public-suffix list; this shortlist covers the everyday cases and
    # the delta is documented in COVERAGE.md.
    _SLD_SHORTLIST = (
        "'com', 'net', 'org', 'co', 'gov', 'edu', 'mil', 'biz', 'info'"
    )

    def _first_significant(cut, ch_fn):
        def build(a):
            dot = _masked_lit("[.]")
            two_level = (
                f"size(__l) >= 3 AND length(element_at(__l, -1)) = 2 "
                f"AND element_at(__l, -2) IN ({_SLD_SHORTLIST})"
            )
            if cut:  # keep significant..end, re-joined with dots
                deep = "array_join(slice(__l, size(__l) - 2, 3), '.')"
                flat = "array_join(slice(__l, size(__l) - 1, 2), '.')"
            else:
                deep = "element_at(__l, -3)"
                flat = "element_at(__l, -2)"
            return (
                f"element_at(transform(array(split(coalesce("
                f"try_parse_url({a[0]}, 'HOST'), ''), {dot})), __l -> "
                f"CASE WHEN size(__l) < 2 THEN '' "
                f"WHEN {two_level} THEN {deep} "
                f"ELSE {flat} END), 1)"
            )

        return build

    out = _rewrite_calls(
        out,
        "cutToFirstSignificantSubdomain",
        _first_significant(True, "cutToFirstSignificantSubdomain"),
    )
    out = _rewrite_calls(
        out,
        "firstSignificantSubdomain",
        _first_significant(False, "firstSignificantSubdomain"),
    )

    # --- maps
    # mapAdd/mapSubtract over Map-typed args (CH's modern form; the
    # legacy tuple-of-arrays form has no Map type here and fails loudly
    # at analysis): key-wise fold, a one-sided key contributing a typed
    # zero — the same merge the sumMap aggregate states use
    def _map_arith(op, ch_fn):
        def build(a):
            if len(a) < 2:
                raise ValueError(f"{ch_fn} expects at least two maps")
            acc = a[0]
            for m in a[1:]:
                acc = (
                    f"map_zip_with({acc}, {m}, (__mk, __m1, __m2) -> "
                    f"coalesce(__m1, __m2 * 0) {op} "
                    f"coalesce(__m2, __m1 * 0))"
                )
            return acc

        return build

    out = _rewrite_calls(out, "mapAdd", _map_arith("+", "mapAdd"))
    out = _rewrite_calls(out, "mapSubtract", _map_arith("-", "mapSubtract"))
    out = _rewrite_calls(
        out,
        "mapContainsKeyLike",
        lambda a: f"exists(map_keys({a[0]}), __k -> __k LIKE {a[1]})",
    )

    # mapPopulateSeries: fill integer key gaps [min(keys), max(keys)]
    # (or the explicit max) with typed zeros
    def _map_populate(a):
        if len(a) not in (1, 2):
            raise ValueError("mapPopulateSeries expects (map[, max])")
        mx = a[1] if len(a) == 2 else "array_max(map_keys(__m))"
        return (
            f"element_at(transform(array({a[0]}), __m -> "
            f"map_from_entries(transform(sequence("
            f"array_min(map_keys(__m)), {mx}), __k -> named_struct("
            f"'key', __k, 'value', coalesce(element_at(__m, __k), "
            f"element_at(map_values(__m), 1) * 0))))), 1)"
        )

    out = _rewrite_calls(out, "mapPopulateSeries", _map_populate)

    # --- arrays
    # arrayElementOrNull: NULL out of range INCLUDING index 0 (nullif
    # keeps try_element_at off its index-0 error path)
    out = _rewrite_calls(
        out,
        "arrayElementOrNull",
        lambda a: f"try_element_at({a[0]}, nullif({a[1]}, 0))",
    )

    # --- bits (non-negative convention, bits 0..62 — the intExp2 range)
    def _bit_test_fold(joiner, ch_fn):
        def build(a):
            if len(a) < 2:
                raise ValueError(f"{ch_fn} expects (x, pos, ...)")
            terms = [
                f"(shiftright(CAST({a[0]} AS BIGINT), "
                f"CAST({p} AS INT)) & 1) = 1"
                for p in a[1:]
            ]
            return "CAST((" + joiner.join(terms) + ") AS INT)"

        return build

    out = _rewrite_calls(out, "bitTestAll", _bit_test_fold(" AND ", "bitTestAll"))
    out = _rewrite_calls(out, "bitTestAny", _bit_test_fold(" OR ", "bitTestAny"))

    def _bitmask_array(x):
        return (
            f"element_at(transform(array(CAST({x} AS BIGINT)), __t -> "
            f"transform(filter(sequence(0, 62), "
            f"__i -> (shiftright(__t, __i) & 1) = 1), "
            f"__i -> shiftleft(CAST(1 AS BIGINT), __i))), 1)"
        )

    out = _rewrite_calls(out, "bitmaskToArray", lambda a: _bitmask_array(a[0]))
    out = _rewrite_calls(
        out,
        "bitmaskToList",
        lambda a: (
            f"array_join(transform({_bitmask_array(a[0])}, "
            f"__p -> CAST(__p AS STRING)), " + _masked_lit(",") + ")"
        ),
    )
    out = _rewrite_calls(
        out,
        "bitPositionsToArray",
        lambda a: (
            f"element_at(transform(array(CAST({a[0]} AS BIGINT)), __t -> "
            f"filter(sequence(0, 62), "
            f"__i -> (shiftright(__t, __i) & 1) = 1)), 1)"
        ),
    )

    # mapExists/mapAll: CH's (lambda, map) argument order; routed
    # through map_filter so the user's (k, v) lambda passes through
    # VERBATIM (the mapFilter convention — Spark's lambda shape is the
    # same). 1/0 like CH's UInt8.
    out = _rewrite_calls(
        out,
        "mapExists",
        lambda a: f"CAST(size(map_filter({a[1]}, {a[0]})) > 0 AS INT)",
    )
    out = _rewrite_calls(
        out,
        "mapAll",
        lambda a: (
            f"element_at(transform(array({a[1]}), __m -> "
            f"CAST(size(map_filter(__m, {a[0]})) = size(__m) AS INT)), 1)"
        ),
    )

    # mapApply((k, v) -> (key_expr, val_expr), m): Spark has
    # transform_keys/values but no joint entry transform — rewrite the
    # literal tuple lambda over map_entries. The lambda vars shadow
    # columns inside the body exactly as in CH (string literals are
    # masked, so substitution can't touch their content); any other
    # lambda shape stays loud.
    def _map_apply(a):
        if len(a) != 2:
            raise ValueError("mapApply expects (lambda, map)")
        m2 = re.fullmatch(
            r"(?s)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*\((.*)\)\s*",
            a[0],
        )
        body_parts = None
        if m2:
            depth, cut = 0, None
            body = m2.group(3)
            for i, c in enumerate(body):
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                elif c == "," and depth == 0:
                    cut = i
                    break
            if cut is not None:
                body_parts = (body[:cut], body[cut + 1:])
        if not m2 or body_parts is None:
            raise ValueError(
                "mapApply: only a literal (k, v) -> (key_expr, val_expr) "
                "lambda is translated"
            )

        def sub(e):
            e = re.sub(
                rf"(?<![\w.]){re.escape(m2.group(1))}\b", "__e.key", e
            )
            return re.sub(
                rf"(?<![\w.]){re.escape(m2.group(2))}\b", "__e.value", e
            )

        return (
            f"map_from_entries(transform(map_entries({a[1]}), __e -> "
            f"named_struct('key', {sub(body_parts[0])}, "
            f"'value', {sub(body_parts[1])})))"
        )

    out = _rewrite_calls(out, "mapApply", _map_apply)

    # arrayEnumerateUniq: occurrence counter per element (1st/2nd/...
    # appearance of that value); arrayEnumerateDense: 1-based rank by
    # FIRST appearance. Row-local O(n^2) prefix scans — the same budget
    # arrayCumSum already spends (no scan HOF in Spark). The multi-array
    # forms stay loud.
    def _array_enumerate(which, ch_fn):
        def build(a):
            if len(a) != 1:
                raise ValueError(
                    f"{ch_fn}: only the single-array form is translated"
                )
            if which == "uniq":
                per = (
                    "transform(sequence(1, size(__a)), __i -> "
                    "size(filter(slice(__a, 1, __i), "
                    "__x -> __x <=> element_at(__a, __i))))"
                )
            else:
                per = (
                    "transform(__a, __x -> size(array_distinct("
                    "slice(__a, 1, array_position(__a, __x)))))"
                )
            return (
                f"element_at(transform(array({a[0]}), __a -> "
                f"IF(size(__a) = 0, CAST(array() AS array<int>), "
                f"{per})), 1)"
            )

        return build

    out = _rewrite_calls(
        out, "arrayEnumerateUniq", _array_enumerate("uniq", "arrayEnumerateUniq")
    )
    out = _rewrite_calls(
        out,
        "arrayEnumerateDense",
        _array_enumerate("dense", "arrayEnumerateDense"),
    )

    # hasSubstr: contiguous-subsequence containment (has/hasAll are the
    # set forms); empty needle is contained everywhere like CH
    def _has_substr(a):
        if len(a) != 2:
            raise ValueError("hasSubstr expects (haystack, needle) arrays")
        return (
            f"element_at(transform(array(named_struct('a', {a[0]}, "
            f"'b', {a[1]})), __t -> CASE "
            f"WHEN size(__t.b) = 0 THEN true "
            f"WHEN size(__t.a) < size(__t.b) THEN false "
            f"ELSE exists(sequence(1, size(__t.a) - size(__t.b) + 1), "
            f"__i -> slice(__t.a, __i, size(__t.b)) = __t.b) END), 1)"
        )

    out = _rewrite_calls(out, "hasSubstr", _has_substr)

    # --- misc
    out = _rewrite_calls(out, "ignore", lambda a: "0")
    # toTypeName reports THIS engine's type for the expression — honest
    # introspection (Spark names, not CH names)
    out = _rewrite_calls(out, "toTypeName", lambda a: f"typeof({a[0]})")
    out = _rewrite_calls(
        out,
        "isZeroOrNull",
        lambda a: f"CAST(coalesce(({a[0]}) = 0, true) AS INT)",
    )

    # --- block/insertion-order-dependent family: loud, with the window
    # rewrite each one actually wants (the deltaSum convention)
    for _fn, _hint in (
        ("runningDifference", "lag() over an explicit ORDER BY window"),
        ("runningAccumulate", "sum() over an explicit ORDER BY window"),
        ("neighbor", "lag()/lead() over an explicit ORDER BY window"),
        ("rowNumberInAllBlocks", "row_number() over an explicit window"),
        ("rowNumberInBlock", "row_number() over an explicit window"),
        ("blockNumber", "row_number() over an explicit window"),
        ("exponentialMovingAverage",
         "avg() over an explicit RANGE window"),
        ("groupArrayMovingSum", "sum() over a ROWS window"),
        ("groupArrayMovingAvg", "avg() over a ROWS window"),
        ("groupArrayLast", "collect_list() over an ordered window"),
        ("groupArrayInsertAt",
         "map_from_entries over an explicit position column"),
        ("groupArraySample",
         "a hash-threshold sample (curation.stratified_sample's pattern)"),
    ):
        out = _rewrite_calls(
            out,
            _fn,
            lambda a, f=_fn, h=_hint: (_ for _ in ()).throw(ValueError(
                f"{f} depends on CH's block/insertion order "
                f"(nondeterministic there) — rewrite with {h}"
            )),
        )

    # simpleLinearRegression -> tuple(k, b) as a col1/col2 struct (the
    # same field names tupleElement produces, so .1/.2 access works)
    out = _rewrite_calls(
        out,
        "simpleLinearRegression",
        lambda a: (
            f"named_struct('col1', covar_pop({a[0]}, {a[1]}) / "
            f"var_pop({a[0]}), 'col2', avg({a[1]}) - "
            f"covar_pop({a[0]}, {a[1]}) / var_pop({a[0]}) * avg({a[0]}))"
        ),
    )
    # arrayCumSumNonNegative: the running sum CLAMPS to 0 at each step
    # (a reset affects all later elements — not a prefix-sum clamp), so
    # each prefix folds with greatest(0, acc + x). NULL elements
    # propagate NULL like the arrayCumSum sibling (review r08: a bare
    # greatest() skipped the NULL and turned it into a silent reset).
    # Same O(n^2)-in-length row-local policy as arrayCumSum above.
    out = _rewrite_calls(
        out,
        "arrayCumSumNonNegative",
        lambda a: (
            f"transform({a[0]}, (__v, __i) -> aggregate(slice({a[0]}, 1, "
            f"__i + 1), CAST(0 AS DOUBLE), (__s, __x) -> "
            f"IF(__s IS NULL OR __x IS NULL, CAST(NULL AS DOUBLE), "
            f"greatest(CAST(0 AS DOUBLE), __s + __x))))"
        ),
    )
    # Vector distance / norm family (round 10 — the embedding-similarity
    # surface a CH user migrating an ANN workload brings along; the
    # native operators in operators/similarity.py use the identical
    # JVM-side folds). All row-local zip_with/aggregate folds over
    # array arguments (CH's Array form; the tuple forms share the code
    # path in CH but have no Spark tuple arithmetic — arrays only here).
    # NULL arrays propagate NULL. DOCUMENTED NARROWING: length-mismatched
    # inputs ALSO answer NULL where CH throws SIZES_OF_ARRAYS_DONT_MATCH
    # — Spark's zip_with NULL-pads the shorter side, which would be a
    # silently-wrong partial distance, so the bind guards on size
    # equality explicitly.
    def _vec_bind2(a, ch_fn, body):
        """Bind (x, y) arrays once; NULL or length-mismatched inputs
        answer NULL (documented vs CH's SIZES_OF_ARRAYS_DONT_MATCH
        throw — zip_with would otherwise NULL-pad silently)."""
        if len(a) != 2:
            raise ValueError(f"{ch_fn} expects two array arguments")
        pair = f"named_struct('x', {a[0]}, 'y', {a[1]})"
        guarded = (
            f"IF(__vp.x IS NULL OR __vp.y IS NULL "
            f"OR size(__vp.x) <> size(__vp.y), "
            f"CAST(NULL AS DOUBLE), {body})"
        )
        return (
            f"element_at(transform(array({pair}), __vp -> {guarded}), 1)"
        )

    _dot = (
        "aggregate(zip_with(__vp.x, __vp.y, (__va, __vb) -> "
        "CAST(__va AS DOUBLE) * __vb), CAST(0 AS DOUBLE), "
        "(__vs, __vv) -> __vs + __vv)"
    )
    _l2sq = (
        "aggregate(zip_with(__vp.x, __vp.y, (__va, __vb) -> "
        "(CAST(__va AS DOUBLE) - __vb) * (CAST(__va AS DOUBLE) - __vb)), "
        "CAST(0 AS DOUBLE), (__vs, __vv) -> __vs + __vv)"
    )
    _l1d = (
        "aggregate(zip_with(__vp.x, __vp.y, (__va, __vb) -> "
        "abs(CAST(__va AS DOUBLE) - __vb)), CAST(0 AS DOUBLE), "
        "(__vs, __vv) -> __vs + __vv)"
    )
    _linfd = (
        "coalesce(array_max(zip_with(__vp.x, __vp.y, (__va, __vb) -> "
        "abs(CAST(__va AS DOUBLE) - __vb))), CAST(0 AS DOUBLE))"
    )
    def _norm2(v):
        return (
            f"sqrt(aggregate({v}, CAST(0 AS DOUBLE), "
            f"(__vs, __vv) -> __vs + CAST(__vv AS DOUBLE) * __vv))"
        )
    for _ch, _body in (
        ("dotProduct", _dot),
        ("arrayDotProduct", _dot),
        ("L2SquaredDistance", _l2sq),
        ("L2Distance", f"sqrt({_l2sq})"),
        ("L1Distance", _l1d),
        ("LinfDistance", _linfd),
        (
            # cosineDistance = 1 - dot/(|x||y|); a zero-norm side gives
            # CH nan — NULL here via nullif (the documented convention)
            "cosineDistance",
            f"1.0 - ({_dot}) / nullif({_norm2('__vp.x')} * "
            f"{_norm2('__vp.y')}, 0.0)",
        ),
    ):
        out = _rewrite_calls(
            out,
            _ch,
            (lambda body: lambda a, f=_ch: _vec_bind2(a, f, body))(_body),
        )

    def _vec_bind1(a, ch_fn, body):
        if len(a) != 1:
            raise ValueError(f"{ch_fn} expects one array argument")
        return (
            f"element_at(transform(array({a[0]}), __vx -> {body}), 1)"
        )

    _n1 = (
        "aggregate(__vx, CAST(0 AS DOUBLE), "
        "(__vs, __vv) -> __vs + abs(CAST(__vv AS DOUBLE)))"
    )
    _n2 = (
        "sqrt(aggregate(__vx, CAST(0 AS DOUBLE), "
        "(__vs, __vv) -> __vs + CAST(__vv AS DOUBLE) * __vv))"
    )
    _ninf = (
        "coalesce(array_max(transform(__vx, __vv -> "
        "abs(CAST(__vv AS DOUBLE)))), CAST(0 AS DOUBLE))"
    )
    for _ch, _body in (
        ("L1Norm", _n1),
        ("L2Norm", _n2),
        ("L2SquaredNorm", f"{_n2} * {_n2}"),
        ("LinfNorm", _ninf),
        # normalizeL1/L2/Linf: the vector scaled to unit norm; a zero
        # norm answers NULL via nullif (CH returns nan elements)
        (
            "normalizeL1",
            f"transform(__vx, __ve -> CAST(__ve AS DOUBLE) / "
            f"nullif({_n1}, 0.0))",
        ),
        (
            "normalizeL2",
            f"transform(__vx, __ve -> CAST(__ve AS DOUBLE) / "
            f"nullif({_n2}, 0.0))",
        ),
        (
            "normalizeLinf",
            f"transform(__vx, __ve -> CAST(__ve AS DOUBLE) / "
            f"nullif({_ninf}, 0.0))",
        ),
    ):
        out = _rewrite_calls(
            out,
            _ch,
            (lambda body: lambda a, f=_ch: _vec_bind1(a, f, body))(_body),
        )

    # arrayAUC(scores, labels): ROC AUC with midrank tie handling —
    # for each positive (label > 0), count negatives scored strictly
    # lower + half the equal-scored negatives, normalized by pos*neg.
    # Row-local O(n^2) in the array length (the entropy/topK policy —
    # per-row model-score vectors are bounded); empty sides answer NULL
    # (CH returns nan when a class is absent).
    def _array_auc(a):
        if len(a) != 2:
            raise ValueError("arrayAUC expects (scores, labels) arrays")
        pair = (
            f"zip_with({a[0]}, {a[1]}, (__as, __al) -> "
            f"named_struct('s', CAST(__as AS DOUBLE), "
            f"'pos', (__al > 0)))"
        )
        neg_lt = (
            "CAST(size(filter(__ap, __ae -> NOT __ae.pos "
            "AND __ae.s < __ag.s)) AS DOUBLE)"
        )
        neg_eq = (
            "CAST(size(filter(__ap, __ae -> NOT __ae.pos "
            "AND __ae.s = __ag.s)) AS DOUBLE)"
        )
        body = (
            f"aggregate(filter(__ap, __ag0 -> __ag0.pos), "
            f"CAST(0 AS DOUBLE), (__aacc, __ag) -> "
            f"__aacc + {neg_lt} + 0.5 * {neg_eq}) / "
            f"nullif(CAST(size(filter(__ap, __ae -> __ae.pos)) AS DOUBLE)"
            f" * size(filter(__ap, __ae -> NOT __ae.pos)), 0.0)"
        )
        return (
            f"element_at(transform(array({pair}), __ap -> {body}), 1)"
        )

    out = _rewrite_calls(out, "arrayAUC", _array_auc)

    # entropy(x): Shannon entropy (bits) of the value distribution —
    # collect + per-distinct frequency fold, the same exact row-local
    # O(distinct * n) policy as topK above (profiling-cardinality
    # groups; a corpus-scale entropy job belongs in an operator).
    # NULLs are skipped like every CH aggregate (collect_list drops
    # them); an all-NULL group yields 0.0 like CH's empty-set entropy.
    def _entropy(a):
        if len(a) != 1:
            raise ValueError("entropy translates the single-column form only")
        x = a[0]
        cl = f"collect_list({x})"
        return (
            f"coalesce(aggregate(array_distinct({cl}), CAST(0 AS DOUBLE), "
            f"(__e, __d) -> __e - (size(filter({cl}, __v -> __v <=> __d)) "
            f"/ CAST(size({cl}) AS DOUBLE)) * log2(size(filter({cl}, "
            f"__v -> __v <=> __d)) / CAST(size({cl}) AS DOUBLE))), "
            f"CAST(0 AS DOUBLE))"
        )

    out = _rewrite_calls(out, "entropy", _entropy)

    # regexpQuoteMeta: backslash-escape CH's regex metacharacter set.
    # The masked text is a SQL string literal, so every regex backslash
    # is doubled once more for Spark's literal parser.
    out = _rewrite_calls(
        out,
        "regexpQuoteMeta",
        lambda a: (
            f"regexp_replace({a[0]}, "
            + _masked_lit(r"([\\\\|()^$.\\[\\]?*+{:-])")
            + ", "
            + _masked_lit(r"\\\\$1")
            + ")"
        ),
    )

    # sequenceMatch('(?1).*(?2)...')(ts, c1, ..., cn): existence of a
    # time-ordered chain of events hitting the referenced conditions in
    # pattern order. The automaton runs over the TRACKED sequence — the
    # time-sorted events matching at least one condition (CH's
    # documented contract: an event matching no condition is invisible,
    # one matching ANY condition breaks strict adjacency).
    #
    # Two translation paths:
    # - `.*`-separated references (subsequence existence): a greedy
    #   earliest-match fold over each event's condition BITMAP — exact,
    #   no backtracking needed.
    # - patterns with STRICT ADJACENCY `(?1)(?2)` (round 8, VERDICT r07
    #   #5): each tracked event encodes as a fixed-width '0'/'1' flag
    #   cell + ';', the pattern compiles to a real regex over that
    #   string (refs pin one flag, `.*` becomes a LAZY any-cell gap),
    #   and the JVM regex engine supplies the exact backtracking a
    #   one-pass fold cannot (e.g. '(?1)(?1)(?2)' on events 1,1,1,2
    #   needs a restart at the SECOND event). Cell alignment is
    #   structural: flag atoms never match ';', so a match can only
    #   start on a cell boundary. Lazy gaps make regexp_count's
    #   non-overlapping scan equal CH's earliest-completion restart.
    #
    # `(?t...)` time constraints change the automaton and stay loud.
    # sequenceCount is the same machinery counting non-overlapping
    # completions.
    def _parse_seq_tokens(raw, n_conds, fn):
        m2 = re.fullmatch(r"\x00L(\d+)\x00", raw.strip())
        pat = (
            literals[int(m2.group(1))][1:-1] if m2 else raw.strip("'\" ")
        )
        if not re.fullmatch(r"(?:\(\?\d+\)|\.\*)+", pat):
            raise ValueError(
                f"{fn}: only (?i) condition references and '.*' are "
                "translated ((?t...) time constraints change the "
                "automaton)"
            )
        toks = re.findall(r"\(\?\d+\)|\.\*", pat)
        steps = [int(t[2:-1]) for t in toks if t != ".*"]
        if not steps:
            raise ValueError(f"{fn}: pattern has no condition references")
        out_of_range = sorted({s for s in steps if s < 1 or s > n_conds})
        if out_of_range:
            refs = ", ".join(f"(?{s})" for s in out_of_range)
            raise ValueError(
                f"{fn}: pattern references {refs} but conditions are "
                f"numbered 1..{n_conds}"
            )
        return toks

    def _seq_is_loose(toks):
        """True when every pair of refs is '.*'-separated (the proven
        bitmap-fold path); False when any strict adjacency appears."""
        return all(
            not (a != ".*" and b != ".*") for a, b in zip(toks, toks[1:])
        )

    def _seq_encoded(ts, conds):
        any_cond = " OR ".join(f"({c})" for c in conds)
        flags = ", ".join(f"IF({c}, '1', '0')" for c in conds)
        return (
            f"array_join(transform(array_sort(collect_list(IF({any_cond}, "
            f"named_struct('t', unix_micros({ts}), "
            f"'s', concat({flags}, ';')), NULL))), __e -> __e.s), '')"
        )

    def _seq_regex(toks, n_conds):
        cell = "[01]" * n_conds
        parts = []
        for t in toks:
            if t == ".*":
                parts.append(f"(?:{cell};)*?")
            else:
                k = int(t[2:-1])
                parts.append("[01]" * (k - 1) + "1" + "[01]" * (n_conds - k) + ";")
        # emit through the literal mask: later rewrite passes (the
        # [..] -> array(..) bracket pass among others) must never see
        # the regex text — it restores verbatim at the end of translate
        literals.append("'" + "".join(parts) + "'")
        return f"\x00L{len(literals) - 1}\x00"

    def _seq_events(ts, conds):
        any_cond = " OR ".join(f"({c})" for c in conds)
        bitmap = ", ".join(conds)
        return (
            f"array_sort(collect_list(IF({any_cond}, named_struct("
            f"'t', unix_micros({ts}), 'c', array({bitmap})), NULL)))"
        )

    def _sequence_match(params, args):
        if len(params) != 1:
            raise ValueError("sequenceMatch takes exactly one pattern")
        if len(args) < 2:
            raise ValueError(
                "sequenceMatch needs a time column and >= 1 condition"
            )
        ts, conds = args[0], args[1:]
        toks = _parse_seq_tokens(params[0], len(conds), "sequenceMatch")
        if not _seq_is_loose(toks):
            return (
                f"IF({_seq_encoded(ts, conds)} RLIKE "
                f"{_seq_regex(toks, len(conds))}, 1, 0)"
            )
        steps = [int(t[2:-1]) for t in toks if t != ".*"]
        step0 = ", ".join(str(s - 1) for s in steps)
        return (
            f"IF(aggregate({_seq_events(ts, conds)}, 0, (__acc, __x) -> "
            f"IF(__acc < {len(steps)} AND __x.c[element_at("
            f"array({step0}), __acc + 1)], __acc + 1, __acc)) = "
            f"{len(steps)}, 1, 0)"
        )

    out = _rewrite_parametric(out, "sequenceMatch", _sequence_match)

    def _sequence_count(params, args):
        if len(params) != 1:
            raise ValueError("sequenceCount takes exactly one pattern")
        if len(args) < 2:
            raise ValueError(
                "sequenceCount needs a time column and >= 1 condition"
            )
        ts, conds = args[0], args[1:]
        toks = _parse_seq_tokens(params[0], len(conds), "sequenceCount")
        if not _seq_is_loose(toks):
            return (
                f"regexp_count({_seq_encoded(ts, conds)}, "
                f"{_seq_regex(toks, len(conds))})"
            )
        steps = [int(t[2:-1]) for t in toks if t != ".*"]
        step0 = ", ".join(str(s - 1) for s in steps)
        k = len(steps)
        return (
            f"aggregate({_seq_events(ts, conds)}, "
            f"named_struct('n', 0, 'lvl', 0), (__a, __x) -> "
            f"IF(__x.c[element_at(array({step0}), __a.lvl + 1)], "
            f"IF(__a.lvl + 1 = {k}, named_struct('n', __a.n + 1, "
            f"'lvl', 0), named_struct('n', __a.n, 'lvl', __a.lvl + 1)), "
            f"__a)).n"
        )

    out = _rewrite_parametric(out, "sequenceCount", _sequence_count)

    # sumMap/minMap/maxMap(keys, values): per-row parallel arrays,
    # aggregated per key across the group; CH returns a tuple
    # ([sorted keys], [aggregated values]) -> here a struct with fields
    # `keys` and `values` (tuple positional access is loud anyway).
    # DOUBLE accumulator for sumMap (same policy as arraySum); min/max
    # keep the value type. Row-local post-aggregation cost
    # O(distinct * total entries) per group — map-state cardinality in
    # CH deployments is metric-name sized, not data sized.
    def _agg_map(which, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(f"{ch_fn} expects (keys, values) arrays")
            flat = (
                f"flatten(collect_list(zip_with({a[0]}, {a[1]}, "
                "(__x, __y) -> named_struct('k', __x, 'v', __y))))"
            )
            keys = (
                f"array_sort(array_distinct(transform({flat}, "
                "__e -> __e.k)))"
            )
            vals_of = f"transform(filter({flat}, __e -> __e.k <=> __kk), __e -> __e.v)"
            per_key = {
                "sum": (
                    f"aggregate({vals_of}, CAST(0 AS DOUBLE), "
                    "(__s, __v) -> __s + __v)"
                ),
                "min": f"array_min({vals_of})",
                "max": f"array_max({vals_of})",
            }[which]
            return (
                f"named_struct('keys', {keys}, 'values', "
                f"transform({keys}, __kk -> {per_key}))"
            )

        return build

    out = _rewrite_calls(out, "sumMap", _agg_map("sum", "sumMap"))
    out = _rewrite_calls(out, "minMap", _agg_map("min", "minMap"))
    out = _rewrite_calls(out, "maxMap", _agg_map("max", "maxMap"))

    # -Array combinators: the aggregate applies to ALL elements of all
    # the group's arrays. DOUBLE accumulator for sums (same policy as
    # arraySum); uniq(Exact)Array's exact-distinct form is stronger
    # than CH's estimator. NULL-free arrays assumed, like arrayReduce.
    _dsum = "aggregate({0}, CAST(0 AS DOUBLE), (__s, __x) -> __s + __x)"
    for _ch, _form in (
        ("countArray", "sum(size({0}))"),
        ("sumArray", "sum(" + _dsum + ")"),
        ("minArray", "min(array_min({0}))"),
        ("maxArray", "max(array_max({0}))"),
        ("avgArray", "(sum(" + _dsum + ") / sum(size({0})))"),
        ("uniqArray", "size(array_distinct(flatten(collect_list({0}))))"),
        ("uniqExactArray",
         "size(array_distinct(flatten(collect_list({0}))))"),
        ("groupArrayArray", "flatten(collect_list({0}))"),
        ("groupUniqArrayArray",
         "array_distinct(flatten(collect_list({0})))"),
    ):
        out = _rewrite_calls(
            out, _ch, lambda a, f=_form: f.replace("{0}", a[0])
        )
    out = _rewrite_calls(
        out, "sumDistinct", lambda a: f"sum(DISTINCT {a[0]})"
    )
    # sumCount returns CH's (sum, count) tuple -> a struct, same policy
    # as sumMap
    out = _rewrite_calls(
        out, "sumCount",
        lambda a: (
            f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"
        ),
    )

    # boundingRatio(x, y): slope between the leftmost and rightmost
    # points — (y at max x - y at min x) / (max x - min x), Float64
    def _bounding_ratio(a):
        if len(a) != 2:
            raise ValueError(
                f"boundingRatio expects (x, y); {len(a)} arguments"
            )
        return (
            f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) / "
            f"CAST(max({a[0]}) - min({a[0]}) AS DOUBLE))"
        )

    out = _rewrite_calls(out, "boundingRatio", _bounding_ratio)

    # CH transform(x, [from...], [to...][, default]): the enum-decode
    # idiom (the reference's P6 event_type mapping is exactly this shape
    # in CH deployments) -> a CASE x WHEN chain. Literal equal-length
    # from/to arrays only; the 3-arg form keeps x unmatched, like CH.
    # Spark's own 2-arg HOF transform(arr, lambda) passes through.
    def _split_bracket_list(text):
        t = text.strip()
        if not (t.startswith("[") and t.endswith("]")):
            return None
        inner = t[1:-1]
        parsed = _parse_args(inner + ")", 0)
        if parsed is None or parsed[0] != len(inner) + 1:
            return None  # stray ')' — not a plain literal list
        return parsed[1]

    def _transform_fn(a):
        if len(a) == 2:
            return f"\x01transform\x01({a[0]}, {a[1]})"
        if len(a) not in (3, 4):
            raise ValueError(
                "transform() takes 2 (Spark HOF) or 3/4 (CH mapping) args"
            )
        src = _split_bracket_list(a[1])
        dst = _split_bracket_list(a[2])
        if src is None or dst is None or len(src) != len(dst) or not src:
            raise ValueError(
                "transform(x, from, to[, default]) needs literal "
                "equal-length array arguments"
            )
        whens = " ".join(f"WHEN {f} THEN {t}" for f, t in zip(src, dst))
        default = a[3] if len(a) == 4 else a[0]
        return f"(CASE {a[0]} {whens} ELSE {default} END)"

    out = _rewrite_calls(out, "transform", _transform_fn)
    out = out.replace("\x01transform\x01", "transform")

    # arrayFold(lambda, arr, init): CH is lambda-first with the
    # accumulator LAST; Spark's aggregate is (arr, init, lambda) with the
    # identical (acc, x) lambda contract. Single-array form only.
    def _array_fold(a):
        if len(a) != 3:
            raise ValueError("arrayFold: single-array form only")
        return f"aggregate({a[1]}, {a[2]}, {a[0]})"

    out = _rewrite_calls(out, "arrayFold", _array_fold)

    # arrayReduce('agg', arr) for the everyday aggregate names. avg
    # divides by the FULL size (NULL-free arrays; CH's avg skips NULLs).
    def _array_reduce(a):
        if len(a) != 2:
            raise ValueError("arrayReduce: single-array form only")
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
        name = (
            literals[int(m2.group(1))][1:-1] if m2 else a[0].strip("'\" ")
        ).lower()
        arr = a[1]
        dsum = f"aggregate({arr}, CAST(0 AS DOUBLE), (__s, __x) -> __s + __x)"
        forms = {
            "sum": dsum,
            "max": f"array_max({arr})",
            "min": f"array_min({arr})",
            "avg": f"({dsum} / size({arr}))",
            "count": f"size(filter({arr}, __x -> __x IS NOT NULL))",
            "uniqexact": (
                f"size(array_distinct(filter({arr}, __x -> __x IS NOT NULL)))"
            ),
        }
        if name in forms:
            return forms[name]
        raise ValueError(f"arrayReduce({name!r}) is not translated")

    out = _rewrite_calls(out, "arrayReduce", _array_reduce)

    # arrayCumSum: Spark has no scan HOF, so each prefix re-aggregates —
    # O(n^2) in array LENGTH (row-local; fine for the short arrays CH
    # dashboards cumsum). DOUBLE accumulator, same policy as arraySum.
    out = _rewrite_calls(
        out,
        "arrayCumSum",
        lambda a: (
            f"transform({a[0]}, (__v, __i) -> aggregate(slice({a[0]}, 1, "
            f"__i + 1), CAST(0 AS DOUBLE), (__s, __x) -> __s + __x))"
        ),
    )

    # restructured calls
    out = _rewrite_calls(
        out, "sumIf", lambda a: f"sum(if({a[1]}, {a[0]}, 0))"
    )
    out = _rewrite_calls(
        out, "avgIf", lambda a: f"avg(if({a[1]}, {a[0]}, NULL))"
    )
    # remaining common -If combinators: NULL on the false branch — every
    # Spark aggregate here ignores NULLs, matching CH's skip-row contract.
    # Strictly 2-arg (expr, cond): the multi-expression tuple forms would
    # silently treat the second expression as the condition, so they
    # raise instead. NOTE the conditional forms are NOT covered by the
    # bare max(ts)-min(ts) seconds idiom above — a conditional timestamp
    # difference yields Spark's INTERVAL type (loud downstream), outside
    # the documented subset.
    def _agg_if(spark_fn, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (expr, cond); {len(a)} arguments "
                    "(tuple forms are not translated)"
                )
            return f"{spark_fn}(if({a[1]}, {a[0]}, NULL))"

        return build

    out = _rewrite_calls(out, "maxIf", _agg_if("max", "maxIf"))
    out = _rewrite_calls(out, "minIf", _agg_if("min", "minIf"))
    # any/anyLast pick an unspecified matching row in CH, so one mapping
    # serves both; ignoreNulls=true keeps NULLed-out non-matching rows
    # from being the "any" pick
    def _any_if(ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (expr, cond); {len(a)} arguments "
                    "(tuple forms are not translated)"
                )
            return f"any_value(if({a[1]}, {a[0]}, NULL), true)"

        return build

    out = _rewrite_calls(out, "anyIf", _any_if("anyIf"))
    out = _rewrite_calls(out, "anyLastIf", _any_if("anyLastIf"))

    # argMax/argMin If-combinators: NULLing the ordering key on
    # non-matching rows removes them (max_by skips NULL keys)
    def _arg_agg_if(spark_fn, ch_fn):
        def build(a):
            if len(a) != 3:
                raise ValueError(f"{ch_fn} expects (arg, val, cond)")
            return f"{spark_fn}({a[0]}, if({a[2]}, {a[1]}, NULL))"

        return build

    out = _rewrite_calls(out, "argMaxIf", _arg_agg_if("max_by", "argMaxIf"))
    out = _rewrite_calls(out, "argMinIf", _arg_agg_if("min_by", "argMinIf"))
    out = _rewrite_calls(
        out, "uniqIf", _agg_if("approx_count_distinct", "uniqIf")
    )
    # medianIf = quantileIf(0.5); exact percentile skips the NULLed
    # non-matching rows (same stronger-contract rule as the estimators)
    out = _rewrite_calls(
        out, "medianIf",
        lambda a: f"percentile(if({a[1]}, {a[0]}, NULL), 0.5)",
    )
    out = _rewrite_calls(
        out, "countDistinctIf",
        lambda a: f"count(DISTINCT if({a[1]}, {a[0]}, NULL))",
    )

    def _uniq_exact_if(a):
        if len(a) != 2:
            raise ValueError(
                f"uniqExactIf expects (expr, cond); {len(a)} arguments "
                "(tuple forms are not translated)"
            )
        return f"count(DISTINCT if({a[1]}, {a[0]}, NULL))"

    out = _rewrite_calls(out, "uniqExactIf", _uniq_exact_if)
    out = _rewrite_calls(
        out, "uniqExact", lambda a: f"count(DISTINCT {', '.join(a)})"
    )

    # -State / -Merge combinators (AggregatingMergeTree migration,
    # functions/ddl_compat.py `_agg_state`): the migrated store holds
    # states as plain Spark-typed columns — sum/max/min/count states ARE
    # the running value, avgState a struct<sum,cnt>, uniqState a
    # Datasketches HLL sketch (binary; CH's uniq is itself an HLL-class
    # estimator, so approximate-for-approximate). -State produces the
    # state (the MV select over each inserted block), -Merge combines
    # states on read — the same merge-on-read contract the Summing store
    # carries. Supported: sum/count/max/min/avg/uniq, plus (round 9)
    # groupArray (state = the array; merge concatenates) and the
    # quantile/quantileExact/quantileTiming family (state = value→count
    # histogram map; merge sums counts; -Merge finalizes with
    # quantileExact's floor(level·n) indexing), groupUniqArray (state =
    # the deduped array), sumMap/minMap/maxMap (state = the
    # key→aggregated-value map, merged key-wise), and quantileTDigest/
    # quantileBFloat16 (the same histogram over log-quantized values —
    # bounded, see the sketch-state block below), and (round 10, VERDICT
    # r09 next #3) groupBitmap (state = the exact deduped integer set —
    # groupUniqArray's shape, information-identical to the roaring
    # bitmap; -Merge finalizes to the CARDINALITY like CH's UInt64
    # groupBitmapMerge), and (round 10, closing the loud list) the
    # statistical-test family — studentTTest/welchTTest as exact moment
    # structs, mannWhitneyUTest as a histogram pair (see the block
    # below). Remaining loud -State types (CH's adaptive histogram(N),
    # sequence automata) carry merge-order-dependent internals with no
    # plain-column representation.
    def _one_arg_state(spark_tpl, ch_fn):
        def build(a):
            if len(a) != 1:
                raise ValueError(
                    f"{ch_fn} expects exactly one argument; got {len(a)} "
                    "(multi-argument state forms are not translated)"
                )
            return spark_tpl.format(a=a[0])

        return build

    out = _rewrite_calls(out, "sumState", _one_arg_state("sum({a})", "sumState"))
    out = _rewrite_calls(
        out,
        "countState",
        lambda a: "count(*)" if not a else f"count({a[0]})",
    )
    out = _rewrite_calls(out, "maxState", _one_arg_state("max({a})", "maxState"))
    out = _rewrite_calls(out, "minState", _one_arg_state("min({a})", "minState"))
    out = _rewrite_calls(
        out,
        "avgState",
        _one_arg_state(
            "named_struct('sum', sum({a}), 'cnt', count({a}))", "avgState"
        ),
    )
    out = _rewrite_calls(
        out, "uniqState", _one_arg_state("hll_sketch_agg({a})", "uniqState")
    )
    out = _rewrite_calls(out, "sumMerge", _one_arg_state("sum({a})", "sumMerge"))
    out = _rewrite_calls(
        out, "countMerge", _one_arg_state("sum({a})", "countMerge")
    )
    out = _rewrite_calls(out, "maxMerge", _one_arg_state("max({a})", "maxMerge"))
    out = _rewrite_calls(out, "minMerge", _one_arg_state("min({a})", "minMerge"))
    out = _rewrite_calls(
        out,
        "avgMerge",
        _one_arg_state("(sum(({a}).sum) / sum(({a}).cnt))", "avgMerge"),
    )
    out = _rewrite_calls(
        out,
        "uniqMerge",
        _one_arg_state("hll_sketch_estimate(hll_union_agg({a}))", "uniqMerge"),
    )
    # round 9 (VERDICT r08 next #6): groupArray + quantile-family states.
    # groupArray's state IS the array; merge concatenates (CH's own merge
    # appends parts, so cross-part element order is arbitrary there too).
    out = _rewrite_calls(
        out,
        "groupArrayState",
        _one_arg_state("collect_list({a})", "groupArrayState"),
    )
    out = _rewrite_calls(
        out,
        "groupArrayMerge",
        _one_arg_state("flatten(collect_list({a}))", "groupArrayMerge"),
    )
    # groupUniqArray: the distinct twin — state is the deduped array
    out = _rewrite_calls(
        out,
        "groupUniqArrayState",
        _one_arg_state("collect_set({a})", "groupUniqArrayState"),
    )
    out = _rewrite_calls(
        out,
        "groupUniqArrayMerge",
        _one_arg_state(
            "array_distinct(flatten(collect_list({a})))",
            "groupUniqArrayMerge",
        ),
    )
    # groupBitmap: state = the exact deduped set (set-union merge IS the
    # roaring-bitmap OR); groupBitmapMerge returns the bitmap CARDINALITY
    # (CH: UInt64), so the -Merge finalizes with size() over the union
    out = _rewrite_calls(
        out,
        "groupBitmapState",
        _one_arg_state("collect_set({a})", "groupBitmapState"),
    )
    out = _rewrite_calls(
        out,
        "groupBitmapMerge",
        _one_arg_state(
            "CAST(size(array_distinct(flatten(collect_list({a})))) "
            "AS BIGINT)",
            "groupBitmapMerge",
        ),
    )

    # sumMap/minMap/maxMap states are the key→aggregated-value map
    # (ddl_compat._agg_state declares map<K,V'>): -State builds the
    # per-group map from the (keys, values) parallel arrays; -Merge
    # folds the maps key-wise and finalizes to the plain sumMap return
    # shape (struct keys/values, keys sorted). The per-key sum starts
    # from :func:`_sum_zero`, so the fold accumulator type is a fixed
    # point (decimal sums would otherwise grow precision each step and
    # fail analysis).
    def _map_state(which, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(f"{ch_fn} expects (keys, values) arrays")
            # r14 optimization (guide §4 class — interpreted HOFs): the
            # collected entry list is LET-BOUND once per group via the
            # transform(array(X), __fl -> ...)[1] trick the -Merge
            # expansions already use, instead of textually inlining the
            # flatten(collect_list(...)) subtree at every use site.
            # Higher-order functions run interpreted with no
            # common-subexpression reuse, so the old shape re-evaluated
            # the flatten over the collected buffer 2K+1 times per group
            # (K = distinct keys; the per-key vals subtree twice more).
            # Measured on the sf10 sumMapState build: 3.77 -> 2.02 s,
            # results bit-identical (exploded-entries exceptAll = 0).
            flat = (
                f"flatten(collect_list(zip_with({a[0]}, {a[1]}, "
                "(__x, __y) -> named_struct('k', __x, 'v', __y))))"
            )
            keys = "array_sort(array_distinct(transform(__fl, __e -> __e.k)))"
            vals = (
                "transform(filter(__fl, __e -> __e.k <=> __kk), "
                "__e -> __e.v)"
            )
            per_key = {
                # the typed-zero seed needs vals twice — bind it too
                "sum": (
                    f"element_at(transform(array({vals}), __vs -> "
                    + _sum_scale_guard(
                        "element_at(__vs, 1)",
                        f"aggregate(__vs, {_sum_zero('element_at(__vs, 1)')}, "
                        "(__s, __v) -> __s + __v)",
                        _masked_lit,
                    )
                    + "), 1)"
                ),
                "min": f"array_min({vals})",
                "max": f"array_max({vals})",
            }[which]
            return (
                f"element_at(transform(array({flat}), __fl -> "
                f"map_from_entries(transform({keys}, __kk -> "
                f"named_struct('key', __kk, 'value', {per_key})))), 1)"
            )

        return build

    def _map_merge(which, ch_fn):
        def build(a):
            if len(a) != 1:
                raise ValueError(f"{ch_fn} expects exactly one argument")
            lam = {
                # a key missing on one side contributes a typed zero
                "sum": "coalesce(__h1, __h2 * 0) + coalesce(__h2, __h1 * 0)",
                # least/greatest skip NULLs, so a one-sided key survives
                "min": "least(__h1, __h2)",
                "max": "greatest(__h1, __h2)",
            }[which]
            lst = f"collect_list({a[0]})"
            # seed with try_element_at: when every state row in the group
            # is NULL the collected list is EMPTY, and ANSI element_at
            # would raise INVALID_ARRAY_INDEX instead of yielding NULL
            # like CH's -Merge over empty states (ADVICE r09); the NULL
            # seed then propagates to a NULL result via the IF guard
            fold = (
                f"aggregate(slice({lst}, 2, size({lst})), "
                f"try_element_at({lst}, 1), "
                f"(__ha, __hm) -> map_zip_with(__ha, __hm, "
                f"(__hk, __h1, __h2) -> {lam}))"
            )
            return (
                f"element_at(transform(array({fold}), __m -> "
                f"IF(__m IS NULL, NULL, "
                f"named_struct('keys', array_sort(map_keys(__m)), "
                f"'values', transform(array_sort(map_keys(__m)), "
                f"__kk -> element_at(__m, __kk))))), 1)"
            )

        return build

    # r15 (VERDICT r14 next #1): safe-shaped GROUP BY blocks holding
    # map-/histogram-State calls are structurally rewritten to two-level
    # pre-aggregation FIRST, so the heavy exchange carries partial
    # per-key aggregates instead of collected row lists; everything the
    # structural pass declines falls through to the expression-level
    # expansions below, unchanged.
    out = _rewrite_state_two_level(out, _masked_lit)

    for _which, _ch in (("sum", "sumMap"), ("min", "minMap"), ("max", "maxMap")):
        out = _rewrite_calls(
            out, f"{_ch}State", _map_state(_which, f"{_ch}State")
        )
        out = _rewrite_calls(
            out, f"{_ch}Merge", _map_merge(_which, f"{_ch}Merge")
        )

    # quantile/quantileExact/quantileTiming states are a value→count
    # histogram map<T,bigint> (ddl_compat._agg_state maps the column
    # type; operators/rollups merges and finalizes the typed path):
    # exact-for-approximate vs CH's reservoir / timing buckets, the uniq
    # →HLL rationale in reverse. -State ignores a level parameter (the
    # histogram is level-free, as in CH where quantileState(0.9) and
    # quantileState share a state type); -Merge takes the level from its
    # parameter list (default 0.5 = CH's default median) and finalizes
    # with quantileExact's floor(level·n) indexing.
    def _quantile_state(params, args):
        # Row-local post-aggregation cost is O(distinct × collected) per
        # group (the distinct-value fan-out over one collect_list, which
        # Spark dedups across both references) — the histogram-state
        # contract assumes timing/size-like value domains where distinct
        # counts are bounded, the same assumption CH's quantileTiming
        # buckets encode.
        if len(args) != 1:
            raise ValueError(
                "quantile*State expects exactly one argument (for "
                "multi-level reads use the plural quantiles*State/"
                "quantiles*Merge — the histogram state is level-free)"
            )
        x = args[0]
        return (
            f"map_from_entries(transform("
            f"array_distinct(collect_list({x})), __d -> named_struct("
            f"'key', __d, 'value', CAST(size(filter(collect_list({x}), "
            f"__v -> __v <=> __d)) AS BIGINT))))"
        )

    def _quantile_merge(params, args):
        if len(args) != 1:
            raise ValueError("quantile*Merge expects exactly one argument")
        if params is not None and (
            len(params) != 1
            or not re.fullmatch(r"0?\.\d+|[01]", params[0].strip())
        ):
            raise ValueError(
                "quantile*Merge: only a single literal level parameter "
                "is translated"
            )
        level = float(params[0]) if params is not None else 0.5
        from use_clickhouse_2_analyze_mysql_binlog_spark.operators.rollups import (
            quantile_from_histogram_sql,
        )

        s = args[0]
        # try_element_at seed: an all-NULL state group collects an EMPTY
        # list, and ANSI element_at would raise INVALID_ARRAY_INDEX; the
        # NULL seed flows through quantile_from_histogram_sql to a NULL
        # answer, matching CH's quantileMerge over empty states (nan,
        # not an error — ADVICE r09)
        merged = (
            f"aggregate(slice(collect_list({s}), 2, "
            f"size(collect_list({s}))), "
            f"try_element_at(collect_list({s}), 1), "
            f"(__hacc, __hm) -> map_zip_with(__hacc, __hm, "
            f"(__hk, __h1, __h2) -> coalesce(__h1, CAST(0 AS BIGINT)) + "
            f"coalesce(__h2, CAST(0 AS BIGINT))))"
        )
        return quantile_from_histogram_sql(merged, level)

    # plural quantiles*State/Merge (round 10): the histogram state is
    # LEVEL-FREE, so the plural -State is the same map (parameters ride
    # the -Merge, which binds the merged histogram once and finalizes
    # every level into one array — CH's Array return shape, element
    # type = the key type, the single-level exactness convention)
    def _parse_levels(params, ch_fn):
        if params is None:
            raise ValueError(f"{ch_fn} needs a literal level list")
        levels = []
        for p in params:
            if not re.fullmatch(r"0?\.\d+|[01]", p.strip()):
                raise ValueError(
                    f"{ch_fn}: only literal level parameters are "
                    "translated"
                )
            levels.append(float(p))
        return levels

    def _quantiles_state(params, args):
        return _quantile_state(None, args)

    def _quantiles_merge(params, args):
        if len(args) != 1:
            raise ValueError("quantiles*Merge expects exactly one argument")
        levels = _parse_levels(params, "quantiles*Merge")
        from use_clickhouse_2_analyze_mysql_binlog_spark.operators.rollups import (
            quantile_from_histogram_sql,
        )

        s = args[0]
        merged = (
            f"aggregate(slice(collect_list({s}), 2, "
            f"size(collect_list({s}))), "
            f"try_element_at(collect_list({s}), 1), "
            f"(__hacc, __hm) -> map_zip_with(__hacc, __hm, "
            f"(__hk, __h1, __h2) -> coalesce(__h1, CAST(0 AS BIGINT)) + "
            f"coalesce(__h2, CAST(0 AS BIGINT))))"
        )
        finals = ", ".join(
            quantile_from_histogram_sql("__qsm", lv) for lv in levels
        )
        return (
            f"element_at(transform(array({merged}), __qsm -> "
            f"array({finals})), 1)"
        )

    for _qfn in ("quantilesExact", "quantilesTiming", "quantiles"):
        out = _rewrite_opt_parametric(out, f"{_qfn}State", _quantiles_state)
        out = _rewrite_opt_parametric(out, f"{_qfn}Merge", _quantiles_merge)

    for _qfn in ("quantileExact", "quantileTiming", "quantile"):
        out = _rewrite_opt_parametric(out, f"{_qfn}State", _quantile_state)
        out = _rewrite_opt_parametric(out, f"{_qfn}Merge", _quantile_merge)

    # quantileTDigest/quantileBFloat16 states: CH's BOUNDED quantile
    # sketches. The state here is the same value→count histogram, but
    # over LOG-QUANTIZED values — sign * exp(bround(ln|x| * 128) / 128),
    # a value-relative step of e^(1/128) ≈ 0.78% (the bucket
    # REPRESENTATIVE is the key itself, so identical values land on
    # identical keys across blocks and the histogram merge stays exact;
    # 0/NaN/Inf pass through as their own buckets). Bounded at ~128
    # buckets per decade on continuous domains where the exact histogram
    # would grow with distinct count — approximate-for-approximate vs
    # CH's ~1%-rank t-digest / 8-bit-mantissa bfloat16, the uniq→HLL
    # rationale. Merge and finalize are the shared histogram machinery
    # (a sketch state merges with ITS OWN family only, exactly as in CH
    # where tdigest and plain quantile states are distinct types).
    # (_log_quantize is module-level: the two-level structural rewrite
    # keys sketch histograms on the same expression text.)
    def _sketch_state(params, args):
        if len(args) != 1:
            raise ValueError(
                "quantileTDigest/quantileBFloat16 State expects exactly "
                "one argument"
            )
        return _quantile_state(params, [_log_quantize(args[0])])

    def _sketch_plural_state(params, args):
        if len(args) != 1:
            raise ValueError(
                "quantilesTDigest/quantilesBFloat16 State expects "
                "exactly one argument"
            )
        return _quantiles_state(None, [_log_quantize(args[0])])

    # plural sketch forms share the log-quantized histogram and the
    # plural array finalize
    for _qfn in ("quantilesTDigest", "quantilesBFloat16"):
        out = _rewrite_opt_parametric(
            out, f"{_qfn}State", _sketch_plural_state
        )
        out = _rewrite_opt_parametric(out, f"{_qfn}Merge", _quantiles_merge)

    for _qfn in ("quantileTDigest", "quantileBFloat16"):
        out = _rewrite_opt_parametric(out, f"{_qfn}State", _sketch_state)
        out = _rewrite_opt_parametric(out, f"{_qfn}Merge", _quantile_merge)

    # Statistical-test aggregates (round 10 — closes the Aggregating-MV
    # loud list, VERDICT r09 missing #2). studentTTest/welchTTest states
    # are the EXACT two-sample moment struct (n, sum, sum-of-squares per
    # sample — field-wise sums merge losslessly); mannWhitneyUTest states
    # are a per-sample value→count histogram pair (the round-9 quantile-
    # state shape — map-sum merges are exact, ranks recompute losslessly
    # from counts). p-values run fully JVM-side via functions/stats.py
    # (Lanczos lgamma + Lentz incomplete-beta fold + A&S erfc — no UDF
    # registration, so translated SQL stays a self-contained string).
    # Documented narrowings (stats.py module doc): degenerate groups
    # answer NULL where CH prints nan/inf; rows with sample index
    # outside {0, 1} are ignored where CH raises BAD_ARGUMENTS. The
    # parametric confidence-interval forms (studentTTest(0.95)(...) →
    # a 4-tuple with CI bounds) stay loud.
    def _ttest_agg(kind, ch_fn):
        def build(params, args):
            if params is not None:
                raise ValueError(
                    f"{ch_fn}: the confidence-interval parametric form "
                    "returns CI bounds and is not translated"
                )
            if len(args) != 2:
                raise ValueError(
                    f"{ch_fn} expects (sample_data, sample_index)"
                )
            return _stats.ttest_struct_sql(
                _stats.ttest_moments_sql(args[0], args[1]), kind
            )

        return build

    out = _rewrite_opt_parametric(
        out, "studentTTest", _ttest_agg("student", "studentTTest")
    )
    out = _rewrite_opt_parametric(
        out, "welchTTest", _ttest_agg("welch", "welchTTest")
    )

    def _parse_mw_params(params, ch_fn):
        alternative, continuity = "two-sided", True
        if params is not None:
            if not 1 <= len(params) <= 2:
                raise ValueError(
                    f"{ch_fn} takes (alternative[, continuity_correction])"
                )
            # the alternative arrives as a masked string literal token
            lm = re.fullmatch(r"\s*\x00L(\d+)\x00\s*", params[0])
            lit = (
                re.fullmatch(
                    r"'([^']*)'", literals[int(lm.group(1))]
                )
                if lm
                else None
            )
            if not lit or lit.group(1) not in (
                "two-sided", "greater", "less"
            ):
                raise ValueError(
                    f"{ch_fn}: alternative must be a literal 'two-sided'"
                    ", 'greater' or 'less'"
                )
            alternative = lit.group(1)
            if len(params) == 2:
                if not re.fullmatch(r"\s*[01]\s*", params[1]):
                    raise ValueError(
                        f"{ch_fn}: continuity_correction must be a "
                        "literal 0 or 1"
                    )
                continuity = params[1].strip() == "1"
        return alternative, continuity

    def _mw_agg(params, args):
        if len(args) != 2:
            raise ValueError(
                "mannWhitneyUTest expects (sample_data, sample_index)"
            )
        alternative, continuity = _parse_mw_params(
            params, "mannWhitneyUTest"
        )
        x, idx = args
        h0 = _stats.value_histogram_sql(
            f"IF(({idx}) = 0, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        h1 = _stats.value_histogram_sql(
            f"IF(({idx}) = 1, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        return _stats.mannwhitney_struct_sql(h0, h1, alternative, continuity)

    out = _rewrite_opt_parametric(out, "mannWhitneyUTest", _mw_agg)

    # meanZTest(var0, var1, conf)(x, idx): known-variance two-sample z
    # test — (z, p, ci_low, ci_high) 4-tuple like CH. The state is the
    # t-test moment struct (the q fields are simply unused), so it
    # rides the same exact-merge machinery.
    def _mean_z(params, args):
        if params is None or len(params) != 3:
            raise ValueError(
                "meanZTest needs literal (population_variance_x, "
                "population_variance_y, confidence_level) parameters"
            )
        if len(args) != 2:
            raise ValueError("meanZTest expects (sample_data, sample_index)")
        for pp in params:
            if not re.fullmatch(r"\s*\d+(\.\d+)?\s*", pp):
                raise ValueError(
                    "meanZTest: only numeric literal parameters are "
                    "translated"
                )
        return _stats.mean_z_struct_sql(
            _stats.ttest_moments_sql(args[0], args[1]),
            params[0], params[1], params[2],
        )

    out = _rewrite_opt_parametric(out, "meanZTest", _mean_z)

    # proportionsZTest(successes_x, successes_y, trials_x, trials_y,
    # conf, usevar): scalar — z (pooled- or unpooled-SE per the REQUIRED
    # 'pooled'/'unpooled' literal, CH's real 6-arg signature — ADVICE
    # r10 #2) + two-sided p + the always-unpooled CI, CH's 4-tuple. The
    # confidence level and usevar must be literals (they feed the probit
    # quantile / SE choice at translate time); the old 5-arg form stays
    # a loud error naming the missing argument.
    def _proportions_z(a):
        if len(a) != 6:
            raise ValueError(
                "proportionsZTest expects (successes_x, successes_y, "
                "trials_x, trials_y, confidence_level, usevar) — usevar "
                "is CH's required 'pooled'/'unpooled' literal"
            )
        if not re.fullmatch(r"\s*\d+(\.\d+)?\s*", a[4]):
            raise ValueError(
                "proportionsZTest: the confidence level must be a "
                "numeric literal"
            )
        lm = re.fullmatch(r"\s*\x00L(\d+)\x00\s*", a[5])
        if not lm:
            # a bare identifier that HAPPENS to be named pooled/unpooled
            # is a column reference, not the required string literal —
            # reject it like any other non-literal instead of silently
            # reading it as the constant
            raise ValueError(
                "proportionsZTest: usevar must be the literal 'pooled' "
                f"or 'unpooled', got non-literal {a[5].strip()!r}"
            )
        usevar = literals[int(lm.group(1))][1:-1]
        if usevar not in ("pooled", "unpooled"):
            raise ValueError(
                "proportionsZTest: usevar must be the literal 'pooled' "
                f"or 'unpooled', got {usevar!r}"
            )
        return _stats.proportions_z_sql(
            a[0], a[1], a[2], a[3], a[4], usevar
        )

    out = _rewrite_calls(out, "proportionsZTest", _proportions_z)

    # kolmogorovSmirnovTest (round 10 — the last member of CH's
    # two-sample test family): shares the Mann-Whitney histogram-pair
    # state (ECDFs recompute losslessly from counts). Two-sided only;
    # the one-sided alternatives stay loud (their D+/D- directionality
    # is the theilsU class); 'exact' computation stays loud (we always
    # answer the asymptotic p — documented in stats.py).
    def _ks_params(params, ch_fn):
        if params is None:
            return
        if len(params) > 2:
            raise ValueError(f"{ch_fn} takes (alternative[, method])")
        lm = re.fullmatch(r"\s*\x00L(\d+)\x00\s*", params[0])
        alt = (
            literals[int(lm.group(1))][1:-1] if lm else params[0].strip()
        )
        if alt != "two-sided":
            raise ValueError(
                f"{ch_fn}: only the 'two-sided' alternative is "
                "translated (one-sided D+/D- directionality is not "
                "pinned by CH's docs)"
            )
        if len(params) == 2:
            m2 = re.fullmatch(r"\s*\x00L(\d+)\x00\s*", params[1])
            method = (
                literals[int(m2.group(1))][1:-1]
                if m2
                else params[1].strip()
            )
            if method not in ("asymp", "auto"):
                raise ValueError(
                    f"{ch_fn}: only the asymptotic p-value is computed "
                    "('exact' is not translated)"
                )

    def _ks_agg(params, args):
        if len(args) != 2:
            raise ValueError(
                "kolmogorovSmirnovTest expects (sample_data, sample_index)"
            )
        _ks_params(params, "kolmogorovSmirnovTest")
        x, idx = args
        h0 = _stats.value_histogram_sql(
            f"IF(({idx}) = 0, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        h1 = _stats.value_histogram_sql(
            f"IF(({idx}) = 1, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        return _stats.ks_struct_sql(h0, h1)

    out = _rewrite_opt_parametric(out, "kolmogorovSmirnovTest", _ks_agg)

    def _ks_merge(params, args):
        if len(args) != 1:
            raise ValueError(
                "kolmogorovSmirnovTestMerge expects exactly one argument"
            )
        _ks_params(params, "kolmogorovSmirnovTestMerge")
        s = args[0]

        def hist_fold(field):
            lst = f"collect_list(({s}).{field})"
            return (
                f"aggregate(slice({lst}, 2, size({lst})), "
                f"try_element_at({lst}, 1), "
                f"(__hacc, __hm) -> map_zip_with(__hacc, __hm, "
                f"(__hk, __h1, __h2) -> coalesce(__h1, CAST(0 AS BIGINT))"
                f" + coalesce(__h2, CAST(0 AS BIGINT))))"
            )

        return _stats.ks_struct_sql(hist_fold("h0"), hist_fold("h1"))

    def _ks_state(a):
        if len(a) != 2:
            raise ValueError(
                "kolmogorovSmirnovTestState expects "
                "(sample_data, sample_index)"
            )
        x, idx = a
        h0 = _stats.value_histogram_sql(
            f"IF(({idx}) = 0, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        h1 = _stats.value_histogram_sql(
            f"IF(({idx}) = 1, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        return f"named_struct('h0', {h0}, 'h1', {h1})"

    out = _rewrite_calls(out, "kolmogorovSmirnovTestState", _ks_state)
    out = _rewrite_opt_parametric(
        out, "kolmogorovSmirnovTestMerge", _ks_merge
    )

    # categorical association (round 10): Cramér's V (+ the Bergsma
    # bias-corrected form CH uses) and Pearson's contingency
    # coefficient over the pair contingency table — row-local folds,
    # the entropy/topK bounded-cardinality policy. theilsU stays loud:
    # CH's directionality convention isn't pinned by its docs, and a
    # silently-transposed uncertainty coefficient is the silent-wrong
    # class this translator refuses.
    def _assoc(builder, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(f"{ch_fn} expects two columns")
            return builder(a[0], a[1])

        return build

    out = _rewrite_calls(
        out,
        "cramersVBiasCorrected",
        _assoc(
            lambda a, b: _stats.cramers_v_sql(a, b, corrected=True),
            "cramersVBiasCorrected",
        ),
    )
    out = _rewrite_calls(
        out,
        "cramersV",
        _assoc(_stats.cramers_v_sql, "cramersV"),
    )
    out = _rewrite_calls(
        out, "contingency", _assoc(_stats.contingency_sql, "contingency")
    )
    out = _rewrite_calls(
        out,
        "theilsU",
        lambda a: (_ for _ in ()).throw(ValueError(
            "theilsU is not translated: CH's docs do not pin which "
            "column conditions which (the uncertainty coefficient is "
            "asymmetric) — compute H(a), H(a|b) explicitly with "
            "entropy() if the direction is known"
        )),
    )

    # -State/-Merge for the statistical tests (the ddl_compat plain-
    # column states; merge folds mirror _map_merge's empty-state policy:
    # an all-NULL group reads back NULL).
    def _ttest_state(kind, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (sample_data, sample_index)"
                )
            return _stats.ttest_moments_sql(a[0], a[1])

        return build

    def _ttest_merge(kind, ch_fn):
        def build(a):
            if len(a) != 1:
                raise ValueError(f"{ch_fn} expects exactly one argument")
            s = a[0]
            merged = (
                f"named_struct("
                f"'n0', sum(({s}).n0), 's0', sum(({s}).s0), "
                f"'q0', sum(({s}).q0), 'n1', sum(({s}).n1), "
                f"'s1', sum(({s}).s1), 'q1', sum(({s}).q1))"
            )
            return _stats.ttest_struct_sql(merged, kind)

        return build

    for _kind, _ch in (("student", "studentTTest"), ("welch", "welchTTest")):
        out = _rewrite_calls(
            out, f"{_ch}State", _ttest_state(_kind, f"{_ch}State")
        )
        out = _rewrite_calls(
            out, f"{_ch}Merge", _ttest_merge(_kind, f"{_ch}Merge")
        )

    def _mw_state(a):
        if len(a) != 2:
            raise ValueError(
                "mannWhitneyUTestState expects (sample_data, sample_index)"
            )
        x, idx = a
        h0 = _stats.value_histogram_sql(
            f"IF(({idx}) = 0, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        h1 = _stats.value_histogram_sql(
            f"IF(({idx}) = 1, CAST({x} AS DOUBLE), CAST(NULL AS DOUBLE))"
        )
        return f"named_struct('h0', {h0}, 'h1', {h1})"

    def _mw_merge(params, args):
        if len(args) != 1:
            raise ValueError(
                "mannWhitneyUTestMerge expects exactly one argument"
            )
        alternative, continuity = _parse_mw_params(
            params, "mannWhitneyUTestMerge"
        )
        s = args[0]

        def hist_fold(field):
            lst = f"collect_list(({s}).{field})"
            return (
                f"aggregate(slice({lst}, 2, size({lst})), "
                f"try_element_at({lst}, 1), "
                f"(__hacc, __hm) -> map_zip_with(__hacc, __hm, "
                f"(__hk, __h1, __h2) -> coalesce(__h1, CAST(0 AS BIGINT))"
                f" + coalesce(__h2, CAST(0 AS BIGINT))))"
            )

        return _stats.mannwhitney_struct_sql(
            hist_fold("h0"), hist_fold("h1"), alternative, continuity
        )

    out = _rewrite_calls(out, "mannWhitneyUTestState", _mw_state)
    out = _rewrite_opt_parametric(out, "mannWhitneyUTestMerge", _mw_merge)

    # corr/covarPop/covarSamp states (the bivariate members of the
    # round-10 moment-state family): state = struct<n,sx,sy,sxx,syy,
    # sxy> over both-non-NULL pairs — field-wise sums merge losslessly,
    # the same exact idiom as the t-test states. avgWeighted's state is
    # the (weighted sum, weight sum) pair. Degenerate groups answer
    # NULL where CH prints nan (the repo convention).
    def _corr_state(ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(f"{ch_fn} expects (x, y)")
            return _stats.corr_moments_sql(a[0], a[1])

        return build

    def _corr_merge(kind, ch_fn):
        def build(a):
            if len(a) != 1:
                raise ValueError(f"{ch_fn} expects exactly one argument")
            s = a[0]
            merged = (
                f"named_struct('n', sum(({s}).n), 'sx', sum(({s}).sx), "
                f"'sy', sum(({s}).sy), 'sxx', sum(({s}).sxx), "
                f"'syy', sum(({s}).syy), 'sxy', sum(({s}).sxy))"
            )
            return _stats.corr_from_moments_sql(merged, kind)

        return build

    for _kind, _ch in (
        ("corr", "corr"), ("covarpop", "covarPop"),
        ("covarsamp", "covarSamp"),
    ):
        out = _rewrite_calls(
            out, f"{_ch}State", _corr_state(f"{_ch}State")
        )
        out = _rewrite_calls(
            out, f"{_ch}Merge", _corr_merge(_kind, f"{_ch}Merge")
        )

    def _avgw_state(a):
        if len(a) != 2:
            raise ValueError("avgWeightedState expects (x, weight)")
        x, w = a
        both = f"(({x}) IS NOT NULL AND ({w}) IS NOT NULL)"
        return (
            f"named_struct("
            f"'ws', sum(IF({both}, CAST({x} AS DOUBLE) * ({w}), "
            f"CAST(NULL AS DOUBLE))), "
            f"'w', sum(IF({both}, CAST({w} AS DOUBLE), "
            f"CAST(NULL AS DOUBLE))))"
        )

    def _avgw_merge(a):
        if len(a) != 1:
            raise ValueError("avgWeightedMerge expects exactly one argument")
        s = a[0]
        return (
            f"(sum(({s}).ws) / nullif(sum(({s}).w), 0.0))"
        )

    out = _rewrite_calls(out, "avgWeightedState", _avgw_state)
    out = _rewrite_calls(out, "avgWeightedMerge", _avgw_merge)

    # finalizeAggregation over our plain-column states: sum/max/min/count
    # states are already final values; avg/uniq need their row-local
    # finalizer — but which one requires the state's TYPE, which SQL text
    # alone doesn't carry, so the generic form stays loud and the typed
    # reader is operators.rollups.finalize_agg_states.
    out = _rewrite_calls(out, "intDiv", lambda a: f"({a[0]} div {a[1]})")
    out = _rewrite_calls(out, "modulo", lambda a: f"({a[0]} % {a[1]})")
    # arithmetic function aliases (ORM-generated CH SQL spells operators
    # as calls); *OrZero forms guard the zero divisor like CH
    out = _rewrite_calls(out, "plus", lambda a: f"({a[0]} + {a[1]})")
    out = _rewrite_calls(out, "minus", lambda a: f"({a[0]} - {a[1]})")
    out = _rewrite_calls(out, "multiply", lambda a: f"({a[0]} * {a[1]})")
    out = _rewrite_calls(out, "divide", lambda a: f"({a[0]} / {a[1]})")
    out = _rewrite_calls(out, "negate", lambda a: f"(-({a[0]}))")
    out = _rewrite_calls(
        out,
        "intDivOrZero",
        lambda a: f"if(({a[1]}) = 0, 0, ({a[0]} div {a[1]}))",
    )
    out = _rewrite_calls(
        out,
        "moduloOrZero",
        lambda a: f"if(({a[1]}) = 0, 0, ({a[0]} % {a[1]}))",
    )
    # comparison / logical function aliases (same ORM-generated surface).
    # and/or are variadic in CH; the ONE-argument parse is NOT the
    # function form — it is SQL's infix keyword followed by a
    # parenthesized operand (`BETWEEN x and (y)`, `a or (b = 1)`), which
    # must pass through untouched (the \x01 passthrough trick, as with
    # 1-arg position/extract). not(x) rewrites to the keyword form with
    # identical semantics either way.
    for _ch, _op in (
        ("notEquals", "<>"), ("equals", "="),
        ("lessOrEquals", "<="), ("greaterOrEquals", ">="),
        ("less", "<"), ("greater", ">"),
    ):
        out = _rewrite_calls(
            out, _ch, lambda a, op=_op: f"(({a[0]}) {op} ({a[1]}))"
        )

    def _logical(keyword, ch_fn):
        def build(a, infix):
            if infix or len(a) < 2:
                # infix keyword + parenthesized operand/tuple, not the
                # function form (`BETWEEN x and (y)`, `x = 1 and (a, b)
                # IN (...)`): re-emit the keyword plus the ORIGINAL
                # parenthesized list so tuple elements survive (ADVICE
                # r06 #1 — the arity-only guard consumed the keyword and
                # dropped list structure for 2+-element tuples)
                return f"\x01{ch_fn}\x01 ({', '.join(a)})"
            return "(" + f" {keyword} ".join(f"({x})" for x in a) + ")"

        return build

    def _not(a, infix):
        if infix or len(a) != 1:
            # prefix keyword before a parenthesized tuple (`not (a, b)
            # IN (...)`) — CH's not() function is strictly unary, so a
            # 2+-arg parse can only be the keyword form; previously a[0]
            # was used silently, dropping the other tuple elements
            return f"\x01not\x01 ({', '.join(a)})"
        return f"(NOT ({a[0]}))"

    out = _rewrite_logical_calls(out, "and", _logical("AND", "and"))
    out = _rewrite_logical_calls(out, "or", _logical("OR", "or"))
    out = _rewrite_logical_calls(out, "not", _not)
    for _kw in ("and", "or", "not"):
        out = out.replace(f"\x01{_kw}\x01", _kw)
    out = _rewrite_calls(out, "empty", lambda a: f"(length({a[0]}) = 0)")
    out = _rewrite_calls(out, "notEmpty", lambda a: f"(length({a[0]}) > 0)")
    out = _rewrite_calls(
        out, "toYYYYMM", lambda a: f"int(date_format({a[0]}, 'yyyyMM'))"
    )
    # CH toDayOfWeek: default (mode 0) Monday=1..Sunday=7; Spark weekday
    # is Monday=0, dayofweek is Sunday=1. All four CH modes map cleanly
    # onto weekday/dayofweek arithmetic; a non-literal mode or the
    # timezone third argument raises instead of silently computing
    # mode 0 (ADVICE r05 #2 — previously extra arguments were DROPPED).
    def _day_of_week(a):
        if len(a) == 1:
            return f"(weekday({a[0]}) + 1)"
        if len(a) == 2:
            forms = {
                "0": f"(weekday({a[0]}) + 1)",   # Monday = 1 .. 7
                "1": f"(weekday({a[0]}))",        # Monday = 0 .. 6
                "2": f"(dayofweek({a[0]}))",      # Sunday = 1 .. 7
                "3": f"(dayofweek({a[0]}) - 1)",  # Sunday = 0 .. 6
            }
            mode = a[1].strip()
            if mode in forms:
                return forms[mode]
            raise ValueError(
                f"toDayOfWeek mode {mode!r} is not a literal 0-3; not "
                "translated"
            )
        raise ValueError(
            "toDayOfWeek with a timezone argument is not translated"
        )

    out = _rewrite_calls(out, "toDayOfWeek", _day_of_week)
    # CH match(s, re) is a boolean regexp test
    out = _rewrite_calls(
        out, "match", lambda a: f"({a[0]} RLIKE {a[1]})"
    )
    # CH position(haystack, needle[, start]) is 1-based (0 = absent) —
    # 2-arg maps to Spark instr (same order), 3-arg to locate with the
    # first two roles swapped (passing through would hit Spark's
    # position(substr, str, pos) with SWAPPED roles — silently wrong).
    # The SQL-standard 1-arg position(x IN y) passes through untouched
    # via a \x01-wrapped name (restored just below; _rewrite_calls
    # requires every builder to eliminate the searched name or the
    # rescan loops).
    def _position(a):
        if len(a) == 2:
            return f"instr({a[0]}, {a[1]})"
        if len(a) == 3:
            # CH position(haystack, needle, start) == Spark locate(needle,
            # haystack, start) — same 1-based contract, 0 = absent, match
            # searched from `start`; only the first two roles swap
            return f"locate({a[1]}, {a[0]}, {a[2]})"
        if len(a) == 1:
            return f"\x01position\x01({a[0]})"
        raise ValueError(
            f"position() with {len(a)} arguments is not translated"
        )

    out = _rewrite_calls(out, "position", _position)
    out = out.replace("\x01position\x01", "position")

    # CH extractGroups(haystack, pattern): array of the FIRST match's
    # capture groups ('' per group when unmatched — exactly Spark's
    # regexp_extract contract). The translation needs the group COUNT at
    # translate time, so the pattern must be a string literal.
    def _extract_groups(a):
        if len(a) != 2:
            raise ValueError(
                "extractGroups(haystack, pattern) takes 2 arguments"
            )
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[1].strip())
        if not m2:
            raise ValueError(
                "extractGroups: the pattern must be a string literal "
                "(the rewrite enumerates its capture groups at "
                "translate time)"
            )
        pat = literals[int(m2.group(1))][1:-1].replace("''", "'")
        try:
            n = re.compile(pat).groups
        except re.error:
            # re2-only syntax Python can't compile: count unescaped,
            # non-'(?' capturing parens
            n = len(re.findall(r"(?<!\\)\((?!\?)", pat))
        if n == 0:
            raise ValueError(
                "extractGroups: the pattern has no capture groups"
            )
        parts = ", ".join(
            f"regexp_extract({a[0]}, {a[1].strip()}, {i})"
            for i in range(1, n + 1)
        )
        # no match -> CH returns the EMPTY array (not n empty strings)
        return (
            f"if({a[0]} RLIKE {a[1].strip()}, array({parts}), "
            f"array())"
        )

    out = _rewrite_calls(out, "extractGroups", _extract_groups)

    # hasToken: CH tokens are maximal runs of alphanumeric ASCII, so a
    # token hit = the needle bounded by non-alphanumerics (or ends);
    # \Q..\E-quote the needle so regex metachars match literally
    def _has_token(lowered):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    "hasToken(haystack, token) takes 2 arguments"
                )
            h, tok = a[0], a[1]
            lm = re.fullmatch(r"\x00L(\d+)\x00", tok.strip())
            if lm and not re.fullmatch(
                r"[0-9A-Za-z]+", literals[int(lm.group(1))][1:-1]
            ):
                # CH itself throws here: the needle must BE a token
                raise ValueError(
                    "hasToken: the needle must be a single token "
                    "(alphanumeric ASCII only) — ClickHouse rejects "
                    "separator characters too"
                )
            if lowered:
                h, tok = f"lower({h})", f"lower({tok})"
            # \P{Alnum} (Java regex: NOT ASCII-alphanumeric) instead of
            # a [^...] class — the array-literal pass would rewrite
            # brackets emitted here into array(..)
            return (
                f"({h} RLIKE concat('(^|\\\\P{{Alnum}})\\\\Q', {tok}, "
                f"'\\\\E($|\\\\P{{Alnum}})'))"
            )

        return build

    out = _rewrite_calls(out, "hasToken", _has_token(False))
    out = _rewrite_calls(
        out, "hasTokenCaseInsensitive", _has_token(True)
    )
    # nanosecond epoch twins: Spark's finest grain is micros — the
    # documented narrowing (CH DateTime64(9) truncates to micros)
    out = _rewrite_calls(
        out, "toUnixTimestamp64Nano",
        lambda a: f"(unix_micros({a[0]}) * 1000)",
    )
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Nano",
        lambda a: f"timestamp_micros(cast(({a[0]}) / 1000 AS bigint))",
    )
    # JSONLength: array length, or key count for objects; scalars and
    # invalid JSON give 0 like CH (NULL input stays NULL). 1-arg root
    # form only — path args fall through loud.
    out = _rewrite_calls(
        out, "JSONLength",
        lambda a: (
            f"if({a[0]} IS NULL, NULL, "
            f"coalesce(json_array_length({a[0]}), "
            f"size(json_object_keys({a[0]})), 0))"
            if len(a) == 1
            else f"\x01JSONLength\x01({', '.join(a)})"
        ),
    )
    out = out.replace("\x01JSONLength\x01", "JSONLength")
    # toValidUTF8: Spark strings are already valid UTF-8 (invalid
    # sequences were replaced at read time) — identity here
    out = _rewrite_calls(out, "toValidUTF8", lambda a: f"({a[0]})")

    # translateUTF8 -> translate, with CH's equal-length contract kept
    # loud (ADVICE r09 #2): CH throws on a from/to length mismatch while
    # Spark's translate silently DELETES the unmatched characters.
    # Simple literal from/to validate at translate time; anything else
    # gets a runtime assert_true (NULL args pass through: translate
    # propagates NULL like CH).
    def _unmask_simple_lit(x: str) -> str | None:
        """Inner text of a masked literal arg, or None when the arg is
        not a plain (escape-free) string literal."""
        m = re.fullmatch(r"\s*\x00L(\d+)\x00\s*", x)
        if not m:
            return None
        inner = literals[int(m.group(1))][1:-1]
        return None if ("\\" in inner or "''" in inner) else inner

    def _translate_utf8(a):
        frm, to = _unmask_simple_lit(a[1]), _unmask_simple_lit(a[2])
        if frm is not None and to is not None:
            if len(frm) != len(to):
                raise ValueError(
                    f"translateUTF8: 'from' ({frm!r}) and 'to' ({to!r}) "
                    "must have equal length — CH throws here; Spark's "
                    "translate would silently delete the unmatched "
                    "characters"
                )
            return f"translate({a[0]}, {a[1]}, {a[2]})"
        return (
            f"coalesce(assert_true(({a[1]}) IS NULL OR ({a[2]}) IS NULL "
            f"OR length({a[1]}) = length({a[2]}), "
            f"'translateUTF8: from/to length mismatch'), "
            f"translate({a[0]}, {a[1]}, {a[2]}))"
        )

    out = _rewrite_calls(out, "translateUTF8", _translate_utf8)
    # bitNot: Spark spells it ~
    out = _rewrite_calls(out, "bitNot", lambda a: f"(~({a[0]}))")
    # integer power-of-2/10 (CH returns UInt64). Spark masks the shift
    # amount mod 64, so an unguarded shiftleft would silently return 1
    # for intExp2(64) and a negative bigint for 63 where CH yields
    # UInt64 2^63 / throws (ADVICE r07 #5): literal exponents outside
    # 0..62 fail at translate time, non-literal ones at run time.
    def _int_exp2(a):
        arg = a[0].strip()
        if re.fullmatch(r"\d+", arg):
            if int(arg) > 62:
                raise ValueError(
                    f"intExp2({arg}): exponents above 62 exceed signed "
                    "bigint (CH's UInt64 reaches 2^63) — not representable"
                )
            return f"shiftleft(CAST(1 AS BIGINT), {arg})"
        # NULL exponents propagate NULL like CH (review r08: a bare
        # BETWEEN yields NULL and assert_true would raise on it);
        # shiftleft(1, NULL) is the NULL that flows out
        return (
            f"coalesce(assert_true(({arg}) IS NULL OR "
            f"({arg}) BETWEEN 0 AND 62, "
            f"'intExp2: exponent must be in 0..62'), "
            f"shiftleft(CAST(1 AS BIGINT), {arg}))"
        )

    out = _rewrite_calls(out, "intExp2", _int_exp2)
    out = _rewrite_calls(
        out, "intExp10",
        lambda a: f"CAST(round(pow(10, {a[0]})) AS BIGINT)",
    )
    # toTime: CH moves the date to 1970-01-02, keeping the time of day
    out = _rewrite_calls(
        out, "toTime",
        lambda a: (
            f"timestamp(concat('1970-01-02 ', "
            f"date_format({a[0]}, 'HH:mm:ss')))"
        ),
    )

    # toWeek: only ISO mode 3 matches Spark's weekofyear; CH's default
    # mode 0 (Sunday-start, 0-based) has no Spark twin — loud
    def _to_week(a):
        if len(a) >= 2 and a[1].strip() == "3":
            return f"weekofyear({a[0]})"
        raise ValueError(
            "toWeek: only mode 3 (ISO, = Spark weekofyear) is "
            "translated; CH's default mode 0 weeks are Sunday-based "
            "and 0-indexed — use toISOWeek or toWeek(x, 3)"
        )

    out = _rewrite_calls(out, "toWeek", _to_week)

    # CH table functions -------------------------------------------------
    # numbers(N) / numbers(start, N) -> range() (column renamed to CH's
    # `number`; a parenthesized subquery keeps trailing aliases valid)
    def _numbers(a):
        if len(a) == 1:
            rng = f"range({a[0]})"
        elif len(a) == 2:
            rng = f"range({a[0]}, ({a[0]}) + ({a[1]}))"
        else:
            raise ValueError(
                "numbers() takes 1 or 2 arguments (N | start, N)"
            )
        return f"(SELECT id AS number FROM {rng})"

    out = _rewrite_calls(out, "numbers", _numbers)

    # file/s3(path, format) -> Spark's direct-path query for
    # self-describing formats (parquet/orc/json carry their own column
    # names; CH's CSV names c1.. diverge from Spark's _c0.. so CSV is
    # loud — read it with spark.read.schema(...).csv(path))
    def _path_table(fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{fn}(path, format) translates with exactly 2 "
                    "arguments; for credentialed/schema forms read the "
                    "file with Spark's own reader and an explicit schema "
                    "(spark.read.schema(...).csv(path))"
                )
            pm = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
            fm2 = re.fullmatch(r"\x00L(\d+)\x00", a[1].strip())
            if not (pm and fm2):
                raise ValueError(
                    f"{fn}: path and format must be string literals"
                )
            fmt = literals[int(fm2.group(1))][1:-1].lower()
            # CH 'JSON' is one meta/data WRAPPER document, not NDJSON —
            # only the line-delimited spellings map to Spark's reader
            fmt_map = {
                "parquet": "parquet", "orc": "orc",
                "jsoneachrow": "json", "jsonlines": "json",
                "ndjson": "json",
            }
            if fmt not in fmt_map:
                raise ValueError(
                    f"{fn}: format {fmt!r} is not translated (parquet/"
                    "ORC/JSONEachRow are self-describing; CH 'JSON' is "
                    "a meta/data wrapper document and CSV column names "
                    "diverge — read it with Spark's own reader and an "
                    "explicit schema: spark.read.schema(...).csv(path))"
                )
            path = literals[int(pm.group(1))][1:-1]
            return f"{fmt_map[fmt]}.`{path}`"

        return build

    out = _rewrite_calls(out, "file", _path_table("file"))
    out = _rewrite_calls(out, "s3", _path_table("s3"))
    for _tf in ("remote", "remoteSecure", "cluster", "clusterAllReplicas",
                "url", "mysql", "postgresql"):
        if re.search(rf"\b(?:FROM|JOIN)\s+{_tf}\s*\(", out, re.IGNORECASE):
            raise ValueError(
                f"table function {_tf}() is not translated — remote/"
                "DB sources map to Spark's own readers (spark.read.jdbc "
                "/ spark.read) and distribution is Spark's own job"
            )

    # dictGet* is structural (it implies a dictionary lookup JOIN), not
    # expressional — fail at translate time with the migration path
    # instead of Spark's bare unresolved-function error
    for _dname in ("dictGet", "dictGetOrDefault", "dictGetOrNull",
                   "dictHas"):
        if re.search(rf"\b{_dname}\s*\(", out):
            raise ValueError(
                f"{_dname}: dictionary lookups are joins, not scalar "
                "calls — load the dictionary SOURCE as a table "
                "(migrate-ddl parses CREATE DICTIONARY into the "
                "broadcast-join plan) and rewrite the call site as an "
                "equi-join on the dictionary's PRIMARY KEY"
            )
    # CH splitByChar(sep, s): note the swapped argument order vs Spark's
    # split(s, pattern); \Q..\E-quote the separator so regex metachars
    # ('|', '.') split literally
    out = _rewrite_calls(
        out,
        "splitByChar",
        lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    )
    # CH array LITERALS use [..]; Spark SQL has no bracket literal —
    # convert to array(..). Non-postfix brackets only (the lookbehind
    # leaves subscripts alone); innermost-first iteration handles nested
    # literals, terminating because each pass removes a bracket pair.
    while True:
        converted = re.sub(
            r"(?<![\w)\]])\[([^\[\]]*)\]", r"array(\1)", out
        )
        if converted == out:
            break
        out = converted

    # CH array subscripts are 1-based, Spark's are 0-based: shift integer
    # subscripts in POSTFIX position (after an identifier, ')' or ']')
    # down by one. The lookbehind keeps array LITERALS like [5] intact
    # (they follow '(', ',' or whitespace). String-key map subscripts are
    # unaffected (the literal is masked, so the digits pattern cannot
    # match); integer-KEYED map lookups are outside the documented subset
    # (CH dashboards subscript arrays). Negative (from-the-end)
    # subscripts pass through and fail loudly in Spark. CH's arr[0]
    # (type-default read) has no Spark equivalent — shifting it to [-1]
    # would SILENTLY return the last element, so it fails loudly here.
    def _shift_subscript(m: re.Match) -> str:
        n = int(m.group(1))
        if n == 0:
            raise ValueError(
                "CH arr[0] reads the type default; Spark has no "
                "equivalent — use arrayElement/coalesce explicitly"
            )
        return f"[{n - 1}]"

    out = re.sub(r"(?<=[\w)\]])\[(\d+)\]", _shift_subscript, out)

    # CH higher-order array functions put the LAMBDA FIRST; Spark's
    # equivalents take the array first. Single-array forms everywhere;
    # arrayMap additionally translates the TWO-array zip form via
    # zip_with (VERDICT r05 #5). Semantics note: CH requires equal array
    # sizes and throws otherwise, Spark's zip_with NULL-pads the shorter
    # side — inputs that are valid in CH (equal sizes) behave
    # identically, and CH-invalid inputs yield NULL-padded rows here
    # instead of a query error. Three-plus arrays have no Spark
    # equivalent and stay loud. The lambda body survives verbatim:
    # `x -> expr` / `(x, y) -> expr` are valid in both dialects, and
    # _find_call's depth tracking keeps parenthesized lambdas one
    # argument.
    def _hof(spark_fn, ch_fn, one_arg=None, two_arrays=None):
        def build(a):
            if len(a) == 2:
                return f"{spark_fn}({a[1]}, {a[0]})"
            if len(a) == 1 and one_arg is not None:
                # CH 1-arg form: predicate over truthiness of elements
                return one_arg(a[0])
            if len(a) == 3 and two_arrays is not None:
                return two_arrays(a[0], a[1], a[2])
            raise ValueError(
                f"{ch_fn} with {len(a)} argument(s) is not translated "
                + ("(one- or two-array lambda forms only)"
                   if two_arrays is not None
                   else "(single-array lambda form only)")
            )

        return build

    def _array_map_n(lam: str, arrays: list[str]) -> str:
        """3+-array arrayMap -> transform over arrays_zip (r07; closes the
        last r05 loud-fail). Restricted to column-reference arrays (the
        zip struct's field names must be predictable) and lambda bodies
        without nested lambdas (textual param substitution would capture
        shadowed names)."""
        mm = re.fullmatch(
            r"\s*\(([^)]*)\)\s*->\s*(.*)", lam, flags=re.DOTALL
        )
        if not mm:
            raise ValueError(
                f"arrayMap over {len(arrays)} arrays: cannot parse the "
                f"multi-parameter lambda {lam!r}"
            )
        params = [p.strip() for p in mm.group(1).split(",")]
        body = mm.group(2).strip()
        if len(params) != len(arrays):
            raise ValueError(
                f"arrayMap lambda has {len(params)} parameters for "
                f"{len(arrays)} arrays"
            )
        if "->" in body:
            raise ValueError(
                "arrayMap over 3+ arrays with a NESTED lambda is not "
                "translated (parameter substitution would capture "
                "shadowed names); zip with arrays_zip explicitly"
            )
        fields = []
        for arr in arrays:
            if not re.fullmatch(r"[A-Za-z_][\w.]*", arr.strip()):
                raise ValueError(
                    f"arrayMap over 3+ arrays needs plain column "
                    f"references (got {arr.strip()!r}); zip with "
                    "arrays_zip explicitly"
                )
            fields.append(arr.strip().rsplit(".", 1)[-1])
        if len(set(fields)) != len(fields):
            raise ValueError(
                "arrayMap over 3+ arrays with colliding column names "
                f"{fields}: the zip struct's fields would be ambiguous"
            )
        for p, f in zip(params, fields):
            body = re.sub(rf"\b{re.escape(p)}\b", f"__ch_z.{f}", body)
        return (
            f"transform(arrays_zip({', '.join(a.strip() for a in arrays)}), "
            f"__ch_z -> ({body}))"
        )

    def _array_map(a):
        if len(a) == 2:
            return f"transform({a[1]}, {a[0]})"
        if len(a) == 3:
            return f"zip_with({a[1]}, {a[2]}, {a[0]})"
        if len(a) >= 4:
            return _array_map_n(a[0], a[1:])
        raise ValueError(
            f"arrayMap with {len(a)} argument(s) is not translated"
        )

    out = _rewrite_calls(out, "arrayMap", _array_map)
    out = _rewrite_calls(out, "arrayFilter", _hof("filter", "arrayFilter"))
    out = _rewrite_calls(
        out, "arrayExists",
        _hof("exists", "arrayExists", lambda arr: f"exists({arr}, x -> x != 0)"),
    )
    out = _rewrite_calls(
        out, "arrayAll",
        _hof("forall", "arrayAll", lambda arr: f"forall({arr}, x -> x != 0)"),
    )

    def _array_count(a):
        if len(a) == 2:
            return f"size(filter({a[1]}, {a[0]}))"
        if len(a) == 1:
            return f"size(filter({a[0]}, x -> x != 0))"
        raise ValueError(
            f"arrayCount with {len(a)} arguments is not translated "
            "(single-array lambda form only)"
        )

    out = _rewrite_calls(out, "arrayCount", _array_count)

    # --- round-6 batch: everyday array/string/hash/aggregate surface ---
    # arrayFirst/arrayLast/arrayFirstIndex: lambda-first like the HOFs
    # above. CH returns the element-type DEFAULT (0/'') when nothing
    # matches; Spark's try_element_at gives NULL there — the one
    # divergence, documented (arrayFirstIndex is exact: both give 0).
    def _array_pick(pos, ch_fn):
        def build(a):
            if len(a) != 2:
                raise ValueError(
                    f"{ch_fn} expects (lambda, array); {len(a)} arguments"
                )
            return f"try_element_at(filter({a[1]}, {a[0]}), {pos})"

        return build

    out = _rewrite_calls(out, "arrayFirstIndex", lambda a: (
        f"array_position(transform({a[1]}, {a[0]}), true)"
        if len(a) == 2
        else (_ for _ in ()).throw(
            ValueError("arrayFirstIndex expects (lambda, array)")
        )
    ))
    out = _rewrite_calls(out, "arrayFirst", _array_pick(1, "arrayFirst"))
    out = _rewrite_calls(out, "arrayLast", _array_pick(-1, "arrayLast"))

    # array construction/editing
    out = _rewrite_calls(
        out, "arrayWithConstant", lambda a: f"array_repeat({a[1]}, {a[0]})"
    )
    out = _rewrite_calls(
        out, "arrayPushBack", lambda a: f"concat({a[0]}, array({a[1]}))"
    )
    out = _rewrite_calls(
        out, "arrayPushFront", lambda a: f"concat(array({a[1]}), {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "arrayPopBack",
        lambda a: f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))",
    )
    out = _rewrite_calls(
        out,
        "arrayPopFront",
        lambda a: f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))",
    )

    def _array_slice(a):
        if len(a) == 3:
            return f"slice({a[0]}, {a[1]}, {a[2]})"
        if len(a) == 2:
            # CH 2-arg form runs to the end; a length past the end is
            # fine on both engines, so size() is a safe upper bound
            return f"slice({a[0]}, {a[1]}, size({a[0]}))"
        raise ValueError(f"arraySlice expects 2 or 3 arguments, got {len(a)}")

    out = _rewrite_calls(out, "arraySlice", _array_slice)
    out = _rewrite_calls(
        out, "arrayUniq", lambda a: (
            f"size(array_distinct({a[0]}))"
            if len(a) == 1
            else (_ for _ in ()).throw(ValueError(
                "arrayUniq over multiple arrays is not translated"
            ))
        )
    )
    out = _rewrite_calls(
        out, "hasAll", lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)"
    )

    # splitByString: same swapped-args + \Q..\E literal quoting as
    # splitByChar (rewritten later); alphaTokens drops the empty edge
    # tokens split() produces where CH yields none
    out = _rewrite_calls(
        out,
        "splitByString",
        lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    )
    out = _rewrite_calls(
        out,
        "alphaTokens",
        lambda a: (
            f"filter(split({a[0]}, '[^a-zA-Z]+'), __tok -> __tok != '')"
        ),
    )

    # regexp extract/replace. CH extract() returns the first capture
    # group when the pattern has one, else the whole match — decided
    # here from the pattern LITERAL (dynamic patterns raise rather than
    # guess). NOTE the ANSI extract(unit FROM ts) form parses as ONE
    # argument and passes through untouched.
    def _group_idx(parg):
        m2 = re.fullmatch(r"\x00L(\d+)\x00", parg.strip())
        if not m2:
            raise ValueError(
                "extract/extractAll need a literal pattern (the capture-"
                "group-vs-whole-match choice depends on it)"
            )
        pat = literals[int(m2.group(1))][1:-1]
        return 1 if re.search(r"(?<!\\)\((?!\?:)", pat) else 0

    def _extract(a):
        if len(a) == 1:  # ANSI extract(YEAR FROM ts): not the CH function
            return f"\x01extract\x01({a[0]})"
        return f"regexp_extract({a[0]}, {a[1]}, {_group_idx(a[1])})"

    out = _rewrite_calls(out, "extractAll", lambda a: (
        f"regexp_extract_all({a[0]}, {a[1]}, {_group_idx(a[1])})"
    ))
    out = _rewrite_calls(out, "extract", _extract)
    out = out.replace("\x01extract\x01", "extract")
    out = _rewrite_calls(
        out, "replaceAll", lambda a: f"replace({a[0]}, {a[1]}, {a[2]})"
    )

    def _replace_regexp_all(a):
        # CH backreferences are \1..\9; Spark's are $1..$9. Transform the
        # replacement LITERAL and re-mask it as a fresh literal token.
        # The canonical CH spelling is '\\1' (escaped backslash in the
        # literal), so the doubled form is consumed first; a lone '\1'
        # is handled too.
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[2].strip())
        if m2:
            rep = literals[int(m2.group(1))]
            rep = re.sub(r"\\\\(\d)", r"$\1", rep)
            rep = re.sub(r"\\(\d)", r"$\1", rep)
            literals.append(rep)
            a = [a[0], a[1], f"\x00L{len(literals) - 1}\x00"]
        return f"regexp_replace({a[0]}, {a[1]}, {a[2]})"

    out = _rewrite_calls(out, "replaceRegexpAll", _replace_regexp_all)

    # binary-exact hash/codec maps: CH MD5/SHA256 return raw bytes (users
    # hex() them — hex(unhex(md5)) reproduces CH's uppercase hex exactly);
    # base64Decode returns String in CH, so the unbase64 binary is cast
    out = _rewrite_calls(out, "MD5", lambda a: f"unhex(md5({a[0]}))")
    out = _rewrite_calls(out, "SHA256", lambda a: f"unhex(sha2({a[0]}, 256))")
    out = _rewrite_calls(out, "base64Encode", lambda a: f"base64({a[0]})")
    out = _rewrite_calls(
        out, "base64Decode", lambda a: f"CAST(unbase64({a[0]}) AS STRING)"
    )

    # bit operators and misc scalar forms (parenthesized: a substituted
    # operator expression must not re-associate with its surroundings)
    out = _rewrite_calls(out, "bitAnd", lambda a: f"({a[0]} & {a[1]})")
    out = _rewrite_calls(out, "bitOr", lambda a: f"({a[0]} | {a[1]})")
    out = _rewrite_calls(out, "bitXor", lambda a: f"({a[0]} ^ {a[1]})")
    out = _rewrite_calls(
        out, "notLike", lambda a: f"({a[0]} NOT LIKE {a[1]})"
    )
    out = _rewrite_calls(
        out, "notILike", lambda a: f"({a[0]} NOT ILIKE {a[1]})"
    )
    # countDistinct: CH alias of uniqExact (exact distinct count)
    out = _rewrite_calls(
        out, "countDistinct", lambda a: f"count(DISTINCT {a[0]})"
    )

    # arrayDifference: [0, a2-a1, ...] — zip the array against itself
    # shifted right by one. zip_with pads to the LONGER side, so the
    # empty-array case is guarded explicitly (slice(a, 1, 0) is a typed
    # empty array).
    def _array_difference(a):
        arr = a[0]
        shifted = (
            f"concat(array(try_element_at({arr}, 1)), "
            f"slice({arr}, 1, greatest(size({arr}) - 1, 0)))"
        )
        return (
            f"if(size({arr}) = 0, slice({arr}, 1, 0), "
            f"zip_with({arr}, {shifted}, (__x, __y) -> __x - __y))"
        )

    out = _rewrite_calls(out, "arrayDifference", _array_difference)
    out = _rewrite_calls(
        out, "toMonday", lambda a: f"to_date(date_trunc('week', {a[0]}))"
    )

    # ------------------------------------------------------------------
    # round-7 everyday batch: array folds, string tokenizers, finiteness,
    # tuple access, readable sizes. Numeric array folds accumulate in
    # DOUBLE (Spark's aggregate() needs one accumulator type; values
    # match CH, the printed type may differ for integer arrays).
    # ------------------------------------------------------------------
    out = _rewrite_calls(out, "exp2", lambda a: f"pow(2, {a[0]})")
    out = _rewrite_calls(
        out, "arrayCompact",
        lambda a: (
            f"aggregate({a[0]}, slice({a[0]}, 1, 0), (__acc, __x) -> "
            f"if(size(__acc) > 0 AND element_at(__acc, -1) <=> __x, "
            f"__acc, array_append(__acc, __x)))"
        ),
    )
    out = _rewrite_calls(
        out, "arraySum",
        lambda a: (
            f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
            f"(__acc, __x) -> __acc + __x)"
        ),
    )
    out = _rewrite_calls(
        out, "arrayAvg",
        lambda a: (
            f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
            f"(__acc, __x) -> __acc + __x, "
            f"__acc -> __acc / size({a[0]}))"
        ),
    )
    out = _rewrite_calls(
        out, "arrayProduct",
        lambda a: (
            f"aggregate({a[0]}, CAST(1 AS DOUBLE), "
            f"(__acc, __x) -> __acc * __x)"
        ),
    )

    def _array_reverse_sort(a):
        if len(a) != 1:
            raise ValueError(
                "arrayReverseSort with a comparator lambda is not "
                "translated; use arraySort + reverse"
            )
        return f"reverse(array_sort({a[0]}))"

    out = _rewrite_calls(out, "arrayReverseSort", _array_reverse_sort)
    out = _rewrite_calls(
        out, "arrayEnumerate",
        lambda a: f"transform({a[0]}, (__x, __i) -> __i + 1)",
    )
    out = _rewrite_calls(
        out, "countEqual",
        lambda a: f"size(filter({a[0]}, __x -> __x <=> {a[1]}))",
    )

    def _array_resize(a):
        if len(a) != 3:
            raise ValueError(
                "arrayResize without an explicit filler pads with the CH "
                "type default, which Spark can't infer; pass the filler "
                "(arrayResize(arr, n, x))"
            )
        arr, n, fill = a
        return (
            f"if({n} <= size({arr}), slice({arr}, 1, {n}), "
            f"concat({arr}, array_repeat({fill}, "
            f"CAST({n} AS INT) - size({arr}))))"
        )

    out = _rewrite_calls(out, "arrayResize", _array_resize)
    for _ch_t, _spark_t in (
        ("String", "string"), ("Date", "date"), ("DateTime", "timestamp"),
        ("Int8", "int"), ("Int16", "int"), ("Int32", "int"),
        ("Int64", "bigint"), ("UInt8", "int"), ("UInt16", "int"),
        ("UInt32", "bigint"), ("UInt64", "bigint"),
        ("Float32", "float"), ("Float64", "double"),
    ):
        out = _rewrite_calls(
            out, f"emptyArray{_ch_t}",
            lambda a, t=_spark_t: f"CAST(array() AS array<{t}>)",
        )
    out = _rewrite_calls(
        out, "toRelativeDayNum",
        lambda a: f"datediff({a[0]}, DATE '1970-01-01')",
    )
    out = _rewrite_calls(
        out, "toRelativeHourNum",
        lambda a: f"(unix_timestamp({a[0]}) div 3600)",
    )
    out = _rewrite_calls(
        out, "toRelativeMinuteNum",
        lambda a: f"(unix_timestamp({a[0]}) div 60)",
    )
    out = _rewrite_calls(
        out, "toRelativeSecondNum",
        lambda a: f"unix_timestamp({a[0]})",
    )
    out = _rewrite_calls(
        out, "bitTest",
        lambda a: (
            f"(shiftright(CAST({a[0]} AS BIGINT), "
            f"CAST({a[1]} AS INT)) & 1)"
        ),
    )
    # whitespace/token splitters never emit empty tokens in CH
    out = _rewrite_calls(
        out, "splitByWhitespace",
        lambda a: f"filter(split({a[0]}, '\\\\s+'), __x -> __x != '')",
    )
    out = _rewrite_calls(
        out, "tokens",
        lambda a: f"filter(split({a[0]}, '[^A-Za-z0-9]+'), __x -> __x != '')",
    )
    out = _rewrite_calls(
        out, "ngrams",
        lambda a: (
            f"if(length({a[0]}) < {a[1]}, CAST(array() AS array<string>), "
            f"transform(sequence(1, length({a[0]}) - {a[1]} + 1), "
            f"__i -> substring({a[0]}, __i, {a[1]})))"
        ),
    )
    # multiSearchAny(haystack, [needles]); positionCaseInsensitive keeps
    # CH's (haystack, needle) role order -> locate's (substr, str)
    out = _rewrite_calls(
        out, "multiSearchAny",
        lambda a: f"exists({a[1]}, __p -> instr({a[0]}, __p) > 0)",
    )
    out = _rewrite_calls(
        out, "positionCaseInsensitive",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    out = _rewrite_calls(
        out, "countSubstrings",
        lambda a: (
            f"CAST(if(length({a[1]}) = 0, 0, (length({a[0]}) - "
            f"length(replace({a[0]}, {a[1]}, ''))) / length({a[1]})) "
            f"AS BIGINT)"
        ),
    )

    def _format_readable_size(a):
        b = f"CAST({a[0]} AS DOUBLE)"
        e = (
            f"greatest(0, least(6, CAST(floor(log(1024, "
            f"greatest({b}, 1))) AS INT)))"
        )
        units = "array('B', 'KiB', 'MiB', 'GiB', 'TiB', 'PiB', 'EiB')"
        return (
            f"format_string('%.2f %s', {b} / pow(1024, {e}), "
            f"element_at({units}, {e} + 1))"
        )

    out = _rewrite_calls(out, "formatReadableSize", _format_readable_size)

    def _format_readable_decimal_size(a):
        b = f"CAST({a[0]} AS DOUBLE)"
        e = (
            f"greatest(0, least(6, CAST(floor(log(1000, "
            f"greatest({b}, 1))) AS INT)))"
        )
        units = "array('B', 'KB', 'MB', 'GB', 'TB', 'PB', 'EB')"
        return (
            f"format_string('%.2f %s', {b} / pow(1000, {e}), "
            f"element_at({units}, {e} + 1))"
        )

    out = _rewrite_calls(
        out, "formatReadableDecimalSize", _format_readable_decimal_size
    )

    # greatCircleDistance(lon1, lat1, lon2, lat2) -> meters on the
    # 6371 km sphere (CH's documented formula); geoDistance's
    # ellipsoid-corrected variant stays loud rather than diverge by
    # a fraction of a percent silently
    def _great_circle(a):
        if len(a) != 4:
            raise ValueError(
                "greatCircleDistance expects (lon1, lat1, lon2, lat2)"
            )
        lon1, lat1, lon2, lat2 = a
        return (
            f"(2 * 6371000.0D * asin(sqrt("
            f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
        )

    out = _rewrite_calls(out, "greatCircleDistance", _great_circle)

    # CH's parameterized random generators; nondeterministic in both
    # engines, same distribution contracts
    out = _rewrite_calls(
        out, "randUniform",
        lambda a: f"(rand() * (({a[1]}) - ({a[0]})) + ({a[0]}))",
    )
    out = _rewrite_calls(
        out, "randNormal",
        lambda a: f"(randn() * ({a[1]}) + ({a[0]}))",
    )
    out = _rewrite_calls(
        out, "isFinite",
        lambda a: (
            f"(NOT isnan(CAST({a[0]} AS DOUBLE)) AND "
            f"abs(CAST({a[0]} AS DOUBLE)) != double('Infinity'))"
        ),
    )
    out = _rewrite_calls(
        out, "isInfinite",
        lambda a: f"(abs(CAST({a[0]} AS DOUBLE)) = double('Infinity'))",
    )
    out = _rewrite_calls(
        out, "ifNotFinite",
        lambda a: (
            f"if(isnan(CAST({a[0]} AS DOUBLE)) OR "
            f"abs(CAST({a[0]} AS DOUBLE)) = double('Infinity'), "
            f"{a[1]}, {a[0]})"
        ),
    )

    def _tuple_element(a):
        idx = a[1].strip()
        m2 = re.fullmatch(r"\x00L(\d+)\x00", idx)
        if m2:
            name = literals[int(m2.group(1))][1:-1]
            if not re.fullmatch(r"[A-Za-z_]\w*", name):
                raise ValueError(
                    f"tupleElement name {name!r} is not a simple "
                    "identifier; not translated"
                )
            return f"{a[0]}.{name}"
        if re.fullmatch(r"\d+", idx):
            # tuple() -> struct() names fields col1, col2, ... (1-based,
            # same as CH tuple indices)
            return f"{a[0]}.col{idx}"
        raise ValueError(
            "tupleElement needs a literal index or name; not translated"
        )

    out = _rewrite_calls(out, "tupleElement", _tuple_element)

    # aggregate forms
    out = _rewrite_calls(
        out, "medianExact", lambda a: f"percentile({a[0]}, 0.5)"
    )
    out = _rewrite_calls(out, "median", lambda a: f"percentile({a[0]}, 0.5)")
    out = _rewrite_calls(
        out,
        "avgWeighted",
        # CH skips rows where EITHER argument is NULL; a bare
        # sum(x*w)/sum(w) would still count the weight of a NULL-x row
        # in the denominator (silent divergence, caught by the round-10
        # state-form cross-check). Zero total weight answers NULL where
        # CH prints nan.
        lambda a: (
            f"(sum(IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
            f"CAST(NULL AS DOUBLE), CAST({a[0]} AS DOUBLE) * ({a[1]}))) "
            f"/ nullif(sum(IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
            f"CAST(NULL AS DOUBLE), CAST({a[1]} AS DOUBLE))), 0.0))"
        ),
    )

    # GLOBAL is a pure ClickHouse distribution hint (ship the right side
    # to every shard) — Spark's broadcast/shuffle planning owns that
    # decision, so the keyword drops. ASOF joins translate to the
    # neighbor-interval form, ANY LEFT/INNER to a deduped right side
    # (below); ANY RIGHT/FULL still changes row multiplicity in ways a
    # local rewrite can't express, so it fails loudly instead.
    out = re.sub(r"\bGLOBAL\s+(?=JOIN\b|IN\b|ANY\b|ALL\b|LEFT\b|RIGHT\b|"
                 r"INNER\b|FULL\b|NOT\b)", "", out, flags=re.IGNORECASE)
    out = _rewrite_asof_joins(out)
    out = _rewrite_any_joins(out)
    out = _rewrite_array_joins(out)

    # CH JSON extraction -> get_json_object with a $.a.b[i] path. CH's
    # variadic path elements (VERDICT r05 #5): each STRING element is an
    # object key (must itself be simple — no dots/quotes/brackets, which
    # would change meaning inside a JSONPath), each bare INTEGER element
    # is a 1-based array index (CH) shifted to JSONPath's 0-based [i];
    # CH's 0 / negative (from-the-end) indices have no JSONPath
    # equivalent and fail loudly. Typed variants wrap in casts; JSONHas
    # tests for presence.
    def _json_path(a):
        if len(a) < 2:
            raise ValueError(
                "JSONExtract needs (json, key[, key|index ...])"
            )
        path = "$"
        for arg in a[1:]:
            arg = arg.strip()
            m2 = re.fullmatch(r"\x00L(\d+)\x00", arg)
            if m2 or arg[:1] in "'\"":
                key = literals[int(m2.group(1))][1:-1] if m2 else arg.strip(
                    "'\" "
                )
                if re.search(r"[.'\"\[\]]", key):
                    raise ValueError(
                        f"JSONExtract key {key!r} needs full JSONPath; "
                        "only simple keys are translated"
                    )
                path += f".{key}"
            elif re.fullmatch(r"-?\d+", arg):
                idx = int(arg)
                if idx < 1:
                    raise ValueError(
                        f"JSONExtract index {idx}: CH's 0/negative "
                        "(from-the-end) indices have no JSONPath "
                        "equivalent"
                    )
                path += f"[{idx - 1}]"
            else:
                raise ValueError(
                    f"JSONExtract path element {arg!r} is not a string "
                    "literal or integer index; dynamic paths are not "
                    "translated"
                )
        return f"get_json_object({a[0]}, '{path}')", a[0], path

    # JSONExtractRaw must return the raw JSON token — including the
    # quotes of string scalars, where get_json_object unquotes — so it
    # round-trips through Spark 4's VARIANT (to_json(variant) re-renders
    # the raw token); missing keys / malformed JSON yield CH's ''.
    def _json_raw(a):
        _, j, path = _json_path(a)
        return (
            f"coalesce(to_json(try_variant_get(try_parse_json({j}), "
            f"'{path}')), '')"
        )

    for _ch, _wrap in (
        ("JSONExtractString", "{0}"),
        ("visitParamExtractString", "{0}"),
        ("simpleJSONExtractString", "{0}"),  # modern visitParam alias
        ("JSONExtractInt", "CAST({0} AS BIGINT)"),
        ("visitParamExtractInt", "CAST({0} AS BIGINT)"),
        ("simpleJSONExtractInt", "CAST({0} AS BIGINT)"),
        ("JSONExtractUInt", "CAST({0} AS BIGINT)"),
        ("simpleJSONExtractUInt", "CAST({0} AS BIGINT)"),
        ("JSONExtractFloat", "CAST({0} AS DOUBLE)"),
        ("simpleJSONExtractFloat", "CAST({0} AS DOUBLE)"),
        ("JSONExtractBool", "CAST({0} AS BOOLEAN)"),
        ("simpleJSONExtractBool", "CAST({0} AS BOOLEAN)"),
        ("JSONHas", "({0} IS NOT NULL)"),
        ("simpleJSONHas", "({0} IS NOT NULL)"),
    ):
        out = _rewrite_calls(
            out, _ch, lambda a, w=_wrap: w.format(_json_path(a)[0])
        )
    out = _rewrite_calls(out, "JSONExtractRaw", _json_raw)
    out = _rewrite_calls(out, "visitParamExtractRaw", _json_raw)
    out = _rewrite_calls(out, "simpleJSONExtractRaw", _json_raw)

    # JSONExtractKeys: object keys, optionally at a compound path
    def _json_keys(a):
        if len(a) == 1:
            return f"json_object_keys({a[0]})"
        return f"json_object_keys({_json_path(a)[0]})"

    out = _rewrite_calls(out, "JSONExtractKeys", _json_keys)

    # CH date arithmetic family. addX(ts, n) keeps the argument order of
    # CH but Spark's timestampadd wants (unit, n, ts); subtractX negates.
    # Works on DateTime (CH's common case); CH's Date-in-Date-out
    # overloads come back as timestamps and cast fine downstream.
    for _ch, _unit in (
        ("addYears", "YEAR"), ("addMonths", "MONTH"), ("addWeeks", "WEEK"),
        ("addDays", "DAY"), ("addHours", "HOUR"), ("addMinutes", "MINUTE"),
        ("addSeconds", "SECOND"),
    ):
        out = _rewrite_calls(
            out, _ch, lambda a, u=_unit: f"timestampadd({u}, {a[1]}, {a[0]})"
        )
        out = _rewrite_calls(
            out,
            "subtract" + _ch[3:],
            lambda a, u=_unit: f"timestampadd({u}, -({a[1]}), {a[0]})",
        )

    # toIntervalX(n) -> make_interval(...): the reference's own TTL DDL
    # uses toIntervalMonth(30) (README.md:117)
    _INTERVAL_POS = {
        "toIntervalYear": 0, "toIntervalMonth": 1, "toIntervalWeek": 2,
        "toIntervalDay": 3, "toIntervalHour": 4, "toIntervalMinute": 5,
        "toIntervalSecond": 6,
    }
    for _ch, _pos in _INTERVAL_POS.items():
        out = _rewrite_calls(
            out,
            _ch,
            lambda a, p=_pos: "make_interval("
            + ", ".join((["0"] * p) + [a[0]])
            + ")",
        )

    def _date_diff(a):
        # dateDiff('unit', start, end): the unit arrives as a masked
        # string literal — unmask it into a bare keyword. CH counts
        # unit-BOUNDARY CROSSINGS (dateDiff('month', Jan-31, Feb-01) = 1)
        # while Spark's timestampdiff counts complete elapsed units (= 0
        # there), so both sides are date_trunc'd to the unit first —
        # after truncation, elapsed units == boundary crossings.
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
        unit = (
            literals[int(m2.group(1))][1:-1] if m2 else a[0].strip("'\" ")
        ).upper()
        return (
            f"timestampdiff({unit}, date_trunc('{unit}', {a[1]}), "
            f"date_trunc('{unit}', {a[2]}))"
        )

    out = _rewrite_calls(out, "dateDiff", _date_diff)

    def _age(a):
        # age('unit', start, end): CH's ELAPSED-complete-units twin of
        # dateDiff (age('month', Jan-31, Feb-01) = 0 where dateDiff = 1),
        # which is exactly Spark's timestampdiff contract — no truncation.
        if len(a) != 3:
            raise ValueError("age expects ('unit', start, end)")
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
        unit = (
            literals[int(m2.group(1))][1:-1] if m2 else a[0].strip("'\" ")
        ).upper()
        return f"timestampdiff({unit}, {a[1]}, {a[2]})"

    out = _rewrite_calls(out, "age", _age)
    # timeSlot rounds down to the half-hour (CH's legacy dashboard bucket)
    out = _rewrite_calls(
        out, "timeSlot", lambda a: f"window({a[0]}, '30 minutes').start"
    )
    out = _rewrite_calls(
        out, "toStartOfTenMinutes",
        lambda a: f"window({a[0]}, '10 minutes').start",
    )
    out = _rewrite_calls(
        out, "toStartOfFifteenMinutes",
        lambda a: f"window({a[0]}, '15 minutes').start",
    )
    # dateName('part', t): String-typed date-part name — month/weekday
    # give names, the rest give the number as a string (CH contract)
    def _date_name(a):
        if len(a) != 2:
            raise ValueError("dateName expects ('part', date)")
        m2 = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
        part = (
            literals[int(m2.group(1))][1:-1] if m2 else a[0].strip("'\" ")
        ).lower()
        t = a[1]
        forms = {
            "year": f"CAST(year({t}) AS STRING)",
            "quarter": f"CAST(quarter({t}) AS STRING)",
            "month": f"date_format({t}, 'MMMM')",
            "week": f"CAST(weekofyear({t}) AS STRING)",
            "dayofyear": f"CAST(dayofyear({t}) AS STRING)",
            "day": f"CAST(day({t}) AS STRING)",
            "weekday": f"date_format({t}, 'EEEE')",
            "hour": f"CAST(hour({t}) AS STRING)",
            "minute": f"CAST(minute({t}) AS STRING)",
            "second": f"CAST(second({t}) AS STRING)",
        }
        if part not in forms:
            raise ValueError(f"dateName({part!r}) is not translated")
        return forms[part]

    out = _rewrite_calls(out, "dateName", _date_name)
    # UUID is a string in this engine; OrNull validates the canonical form
    out = _rewrite_calls(
        out, "toUUIDOrNull",
        lambda a: (
            f"if({a[0]} rlike '^[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-"
            f"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}$', "
            f"lower({a[0]}), NULL)"
        ),
    )
    out = _rewrite_calls(
        out, "monthName", lambda a: f"date_format({a[0]}, 'MMMM')"
    )
    # toUUIDOrZero: same validation, the all-zero UUID on failure (CH)
    out = _rewrite_calls(
        out, "toUUIDOrZero",
        lambda a: (
            f"if({a[0]} rlike '^[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-"
            f"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}$', "
            f"lower({a[0]}), '00000000-0000-0000-0000-000000000000')"
        ),
    )
    # dateTrunc: identical (unit, ts) signature and unit vocabulary
    # (both truncate 'week' to Monday); CH also accepts the alias
    # date_trunc, which passes through name-matched already
    out = _rewrite_calls(
        out, "dateTrunc", lambda a: f"date_trunc({', '.join(a)})"
    )
    # emptyArrayX() -> a typed empty array literal
    for _ch, _sp in (
        ("emptyArrayUInt8", "int"), ("emptyArrayUInt16", "int"),
        ("emptyArrayUInt32", "bigint"), ("emptyArrayUInt64", "bigint"),
        ("emptyArrayInt8", "int"), ("emptyArrayInt16", "int"),
        ("emptyArrayInt32", "int"), ("emptyArrayInt64", "bigint"),
        ("emptyArrayFloat32", "float"), ("emptyArrayFloat64", "double"),
        ("emptyArrayString", "string"), ("emptyArrayDate", "date"),
        ("emptyArrayDateTime", "timestamp"),
    ):
        out = _rewrite_calls(
            out,
            _ch,
            lambda a, s=_sp, f=_ch: (
                f"CAST(array() AS array<{s}>)"
                if not a or a == [""]
                else (_ for _ in ()).throw(
                    ValueError(f"{f} takes no arguments")
                )
            ),
        )

    # erf/erfc (round 10): Spark has neither; reuse the A&S 7.1.26
    # rational approximation from functions/stats.py (|error| <=
    # 1.5e-7 — DOCUMENTED NARROWING vs CH's double-precision erf; the
    # everyday use is sigma thresholds, far above 1e-7). lgamma: the
    # Lanczos form (~15 digits) with the reflection formula for
    # z < 0.5 (non-positive integers answer NULL where CH prints inf).
    out = _rewrite_calls(
        out, "erf", lambda a: f"(1.0 - {_stats.erfc_sql(a[0])})"
    )
    out = _rewrite_calls(out, "erfc", lambda a: _stats.erfc_sql(a[0]))

    def _lgamma(a):
        if len(a) != 1:
            raise ValueError("lgamma expects one argument")
        pos = _stats.lgamma_sql("__lgr")
        refl = (
            f"ln(pi() / abs(sin(pi() * __lgr))) - "
            f"{_stats.lgamma_sql('1.0 - __lgr')}"
        )
        body = (
            f"CASE WHEN __lgr >= 0.5 THEN {pos} "
            f"WHEN __lgr = CAST(floor(__lgr) AS DOUBLE) THEN "
            f"CAST(NULL AS DOUBLE) "
            f"ELSE {refl} END"
        )
        return (
            f"element_at(transform(array(CAST({a[0]} AS DOUBLE)), "
            f"__lgr -> {body}), 1)"
        )

    out = _rewrite_calls(out, "lgamma", _lgamma)

    # gcd/lcm (round 10): Spark has neither; Euclid as a bounded fold —
    # 92 halving steps cover the 64-bit worst case (consecutive
    # Fibonacci numbers). gcd(0, 0) = 0 like CH; negatives fold on
    # absolute values; lcm = |a*b| / gcd (0 when either side is 0).
    def _gcd_fold(x, y):
        return (
            f"aggregate(sequence(1, 92), "
            f"named_struct('a', abs(CAST({x} AS BIGINT)), "
            f"'b', abs(CAST({y} AS BIGINT))), "
            f"(__ga, __gk) -> IF(__ga.b = 0, __ga, "
            f"named_struct('a', __ga.b, 'b', __ga.a % __ga.b)), "
            f"__ga -> __ga.a)"
        )

    out = _rewrite_calls(out, "gcd", lambda a: f"({_gcd_fold(a[0], a[1])})")
    out = _rewrite_calls(
        out,
        "lcm",
        lambda a: (
            f"element_at(transform(array(named_struct("
            f"'x', abs(CAST({a[0]} AS BIGINT)), "
            f"'y', abs(CAST({a[1]} AS BIGINT)))), __lc -> "
            f"IF(__lc.x = 0 OR __lc.y = 0, CAST(0 AS BIGINT), "
            f"__lc.x div ({_gcd_fold('__lc.x', '__lc.y')}) * __lc.y)), 1)"
        ),
    )

    # toStartOfQuarter/Year return Dates in CH, like toStartOfMonth
    out = _rewrite_calls(
        out,
        "toStartOfQuarter",
        lambda a: f"to_date(date_trunc('QUARTER', {a[0]}))",
    )
    out = _rewrite_calls(
        out,
        "toStartOfYear",
        lambda a: f"to_date(date_trunc('YEAR', {a[0]}))",
    )

    def _multi_if(a):
        # multiIf(c1, v1, c2, v2, ..., default) -> CASE WHEN chain
        whens = " ".join(
            f"WHEN {a[i]} THEN {a[i + 1]}" for i in range(0, len(a) - 1, 2)
        )
        return f"(CASE {whens} ELSE {a[-1]} END)"

    out = _rewrite_calls(out, "multiIf", _multi_if)
    out = _rewrite_calls(
        out, "toStartOfDay", lambda a: f"date_trunc('DAY', {a[0]})"
    )
    out = _rewrite_calls(
        out, "toStartOfMonth", lambda a: f"to_date(date_trunc('MONTH', {a[0]}))"
    )
    # Grafana time-bucketing idioms (VERDICT r03 next-round #6): every CH
    # dashboard query buckets with these
    out = _rewrite_calls(
        out, "toStartOfHour", lambda a: f"date_trunc('HOUR', {a[0]})"
    )
    out = _rewrite_calls(
        out, "toStartOfMinute", lambda a: f"date_trunc('MINUTE', {a[0]})"
    )
    out = _rewrite_calls(
        out, "toStartOfFiveMinutes", lambda a: f"window({a[0]}, '5 minutes').start"
    )
    out = _rewrite_calls(
        out, "toYYYYMMDD", lambda a: f"int(date_format({a[0]}, 'yyyyMMdd'))"
    )
    def _start_of_week(a):
        # CH mode 0/2 = Sunday start (default), 1/3 = Monday start;
        # Spark's date_trunc('WEEK') is Monday-only, Sunday needs the
        # dayofweek arithmetic (dayofweek: Sunday=1)
        mode = a[1].strip() if len(a) > 1 else "0"
        if mode in ("1", "3"):
            return f"to_date(date_trunc('WEEK', {a[0]}))"
        return f"date_sub(to_date({a[0]}), dayofweek({a[0]}) - 1)"

    out = _rewrite_calls(out, "toStartOfWeek", _start_of_week)

    def _format_datetime(a):
        # the format string was masked above — unmask, convert the
        # %-token pattern, re-mask the converted literal
        lit = a[1].strip()
        masked = re.fullmatch(r"\x00L(\d+)\x00", lit)
        if masked:
            raw = literals[int(masked.group(1))]
            # the converted Java pattern may itself contain single quotes
            # (literal letters are 'x'-quoted for the formatter); escape
            # them for the enclosing SQL string literal or the whole
            # translated query fails to parse
            converted = _convert_ch_datetime_format(raw[1:-1])
            literals.append("'" + converted.replace("'", "\\'") + "'")
            lit = f"\x00L{len(literals) - 1}\x00"
        return f"date_format({a[0]}, {lit})"

    out = _rewrite_calls(out, "formatDateTime", _format_datetime)

    # bare now()/today()/yesterday() (zero-arg, so plain renames would
    # leave empty parens to a 1-arg builder — rewrite whole calls).
    # now64([precision[, tz]]) drops its args: Spark current_timestamp
    # is already microsecond-precision (superset of the default 3).
    # NARROWING: a timezone argument is dropped too — renders in the
    # session timezone, not the requested one (documented, COVERAGE.md).
    out = _rewrite_calls(out, "now64", lambda a: "current_timestamp()")
    out = re.sub(r"\bnow\(\s*\)", "current_timestamp()", out)
    out = re.sub(r"\btoday\(\s*\)", "current_date()", out)
    out = re.sub(r"\byesterday\(\s*\)", "date_sub(current_date(), 1)", out)

    # CH DateTime ± integer is SECONDS arithmetic; Spark's timestamp ± INT
    # fails analysis (DATATYPE_MISMATCH) — rewrite now() and known
    # timestamp columns ± integer literal to timestampadd (ADVICE r04).
    # Spark-native `± INTERVAL ...` forms are left alone.
    for term in [re.escape("current_timestamp()")] + [
        rf"\b{re.escape(c)}\b" for c in timestamp_columns
    ]:
        out = re.sub(
            rf"({term})\s*([+-])\s*(\d+)\b(?![.\d])",
            lambda m: (
                f"timestampadd(SECOND, "
                f"{'-' if m.group(2) == '-' else ''}{m.group(3)}, "
                f"{m.group(1)})"
            ),
            out,
        )
    out = _rewrite_calls(
        out,
        "toStartOfInterval",
        lambda a: f"window({a[0]}, '{_interval_text(a[1])}').start",
    )

    # round-7 second everyday batch ------------------------------------
    # to<T>OrNull / to<T>OrZero conversion families: CH yields NULL /
    # the type default on unparseable input while the plain to<T> throws
    # — exactly Spark's ANSI try_cast vs cast split, so the mapping is
    # semantics-exact (coalesce supplies the OrZero default).
    # plain toUInt64: the same full-unsigned-range rule as its Or-family
    # below (review r08: the rename-table bigint mapping silently NULLed
    # [2^63, 2^64) — the exact class ADVICE r07 #3 fixed for the twins);
    # truncation toward zero via _uint64_conv (ADVICE r09 #1)
    out = _rewrite_calls(
        out, "toUInt64", lambda a: _uint64_conv(a[0], "cast")
    )
    _OR_TYPES = {
        # UInt64 must NOT narrow to signed bigint: inputs in [2^63, 2^64)
        # parse fine in CH and would silently become NULL/0/default here
        # (ADVICE r07 #3) — decimal(20,0) covers the full unsigned range
        "UInt64": ("decimal(20,0)", "0"), "UInt32": ("bigint", "0"),
        "Int64": ("bigint", "0"), "Int32": ("bigint", "0"),
        "UInt8": ("int", "0"), "Int8": ("int", "0"),
        "Float64": ("double", "0.0"), "Float32": ("float", "0.0"),
        "Date": ("date", "DATE '1970-01-01'"),
        "DateTime": ("timestamp", "TIMESTAMP '1970-01-01 00:00:00'"),
    }
    # Non-UInt64 targets truncate already (Spark's numeric->integral cast
    # truncates toward zero, and string->integral is a strict parse like
    # CH); only the decimal(20,0) UInt64 target needs the explicit
    # truncation detour (ADVICE r09 #1), routed through _uint64_conv.
    def _try_conv(arg: str, t: str) -> str:
        if t == "decimal(20,0)":
            return _uint64_conv(arg, "try_cast")
        return f"try_cast({arg} AS {t})"

    for _t, (_sql_t, _zero) in _OR_TYPES.items():
        out = _rewrite_calls(
            out, f"to{_t}OrNull",
            lambda a, t=_sql_t: _try_conv(a[0], t),
        )
        out = _rewrite_calls(
            out, f"to{_t}OrZero",
            lambda a, t=_sql_t, z=_zero: (
                f"coalesce({_try_conv(a[0], t)}, {z})"
            ),
        )
        # OrDefault: caller-supplied fallback; WITHOUT the second arg
        # CH falls back to the TYPE default (= the OrZero contract),
        # never NULL
        out = _rewrite_calls(
            out, f"to{_t}OrDefault",
            lambda a, t=_sql_t, z=_zero: (
                f"coalesce({_try_conv(a[0], t)}, {a[1]})"
                if len(a) == 2
                else f"coalesce({_try_conv(a[0], t)}, {z})"
            ),
        )
    # toDecimal32/64/128(x, scale): precision from the CH width (9/18/38
    # digits); the scale must be a literal (Spark's decimal type is
    # compile-time) — a non-literal fails loudly in Spark's parser
    for _fn, _prec in (
        ("toDecimal32", 9), ("toDecimal64", 18), ("toDecimal128", 38),
    ):
        out = _rewrite_calls(
            out, _fn,
            lambda a, p=_prec: f"cast({a[0]} AS decimal({p}, {a[1]}))",
        )
    # URL family -> try_parse_url (round 9: plain parse_url THROWS on
    # malformed input under Spark 4 ANSI, which silently broke the
    # documented NULL-on-invalid contract below — try_parse_url restores
    # it). Narrowing: CH's parsers accept scheme-less URLs (best-effort
    # host/path extraction) and answer '' on garbage; try_parse_url
    # wants an absolute URL and yields NULL otherwise — valid absolute
    # URLs behave identically. pathFull (path + query string) is
    # parse_url's FILE part; fragment is REF.
    for _ch, _part in (
        ("protocol", "PROTOCOL"), ("domain", "HOST"), ("path", "PATH"),
        ("pathFull", "FILE"), ("queryString", "QUERY"),
        ("fragment", "REF"),
    ):
        out = _rewrite_calls(
            out, _ch, lambda a, p=_part: f"try_parse_url({a[0]}, '{p}')"
        )
    out = _rewrite_calls(
        out, "domainWithoutWWW",
        lambda a: (
            f"regexp_replace(try_parse_url({a[0]}, 'HOST'), '^www\\\\.', '')"
        ),
    )
    out = _rewrite_calls(
        out, "extractURLParameter",
        lambda a: f"try_parse_url({a[0]}, 'QUERY', {a[1]})",
    )
    out = _rewrite_calls(
        out, "decodeURLComponent", lambda a: f"url_decode({a[0]})"
    )
    out = _rewrite_calls(
        out, "encodeURLComponent", lambda a: f"url_encode({a[0]})"
    )
    # positionUTF8 aliases: Spark strings are UTF-8 native, so these are
    # the already-translated position/positionCaseInsensitive contracts
    out = _rewrite_calls(
        out, "positionUTF8", lambda a: f"instr({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "positionCaseInsensitiveUTF8",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    out = _rewrite_calls(
        out, "dayName", lambda a: f"date_format({a[0]}, 'EEEE')"
    )

    # CH function-form CAST(x, 'Type') (the ORM-generated spelling) and
    # CH type names inside standard CAST(x AS Type): UInt64/DateTime/
    # Nullable(..)/Decimal64(s)/Array(..) etc. map onto Spark types
    # (_ch_type_to_spark); Spark-native type names pass through, unknown
    # CH types stay loud. accurateCast follows CH's contract split:
    # plain -> CAST (ANSI, throws), OrNull -> try_cast.
    def _cast_fn(try_cast=False):
        kw = "try_cast" if try_cast else "CAST"

        def build(a):
            if len(a) == 2:
                m2 = re.fullmatch(r"\x00L(\d+)\x00", a[1].strip())
                if not m2:
                    raise ValueError(
                        "CAST(x, type): the type must be a string literal"
                    )
                t = literals[int(m2.group(1))][1:-1]
                spark_t = _ch_type_to_spark(t)
                if spark_t is None:
                    raise ValueError(
                        f"CAST to CH type {t!r} is not translated"
                    )
                return f"\x01{kw}\x01({a[0]} AS {spark_t})"
            if len(a) == 1 and not try_cast:
                # AS form: rewrite only when the trailing type name is a
                # CH spelling that maps to something ELSE in Spark
                m2 = re.search(
                    r"(?is)\sAS\s+([A-Za-z]\w*(?:\s*\([^()]*\))?)\s*$",
                    a[0],
                )
                if m2:
                    spark_t = _ch_type_to_spark(m2.group(1))
                    if (
                        spark_t is not None
                        and spark_t.lower()
                        != re.sub(r"\s+", " ", m2.group(1).strip()).lower()
                    ):
                        return (
                            f"\x01{kw}\x01({a[0][: m2.start()]} AS {spark_t})"
                        )
                return f"\x01{kw}\x01({a[0]})"
            raise ValueError(f"{kw} with {len(a)} arguments is not translated")

        return build

    for _name in ("CAST", "cast", "Cast", "accurateCast"):
        out = _rewrite_calls(out, _name, _cast_fn())
    out = _rewrite_calls(out, "accurateCastOrNull", _cast_fn(try_cast=True))
    out = out.replace("\x01CAST\x01", "CAST").replace(
        "\x01try_cast\x01", "try_cast"
    )

    # CH date_add/dateAdd(unit, n, ts) and date_sub/dateSub 3-arg
    # function forms -> timestampadd (unit arrives bare or as a masked
    # string literal — unmask to the bare keyword, as _date_diff does).
    # The 2-arg INTERVAL form maps to +/- arithmetic; Spark's own 2-arg
    # date_add(ts, days) passes through untouched (camelCase 2-arg
    # non-INTERVAL has no CH meaning and fails loudly).
    def _date_addsub(name, sign):
        def build(a):
            if len(a) == 3:
                m2 = re.fullmatch(r"\x00L(\d+)\x00", a[0].strip())
                unit = (
                    literals[int(m2.group(1))][1:-1]
                    if m2 else a[0].strip()
                ).upper()
                n = a[1] if sign > 0 else f"-({a[1]})"
                return f"timestampadd({unit}, {n}, {a[2]})"
            if len(a) == 2 and re.match(
                r"(?i)\s*INTERVAL\b", a[1]
            ):
                op = "+" if sign > 0 else "-"
                return f"({a[0]} {op} {a[1]})"
            if name in ("date_add", "date_sub") and len(a) == 2:
                # Spark's native days form — re-emit untouched
                return f"\x01{name}\x01({', '.join(a)})"
            raise ValueError(
                f"{name}() with {len(a)} argument(s) and no unit/"
                "INTERVAL is not translated"
            )

        return build

    for _name, _sign in (
        ("dateAdd", 1), ("date_add", 1), ("dateSub", -1), ("date_sub", -1),
    ):
        out = _rewrite_calls(out, _name, _date_addsub(_name, _sign))
    for _name in ("date_add", "date_sub"):
        out = out.replace(f"\x01{_name}\x01", _name)

    # bare count() -> count(*)
    out = re.sub(r"\bcount\(\s*\)", "count(*)", out)

    # pure renames (longest first so toUInt32 wins over toUInt3 prefixes)
    for ch_fn in sorted(_RENAMES, key=len, reverse=True):
        spark_fn = _RENAMES[ch_fn]
        if spark_fn:
            out = re.sub(rf"\b{ch_fn}\s*\(", spark_fn + "(", out)
        else:
            out = _rewrite_calls(out, ch_fn, lambda a: a[0])

    return re.sub(
        r"\x00L(\d+)\x00", lambda m: literals[int(m.group(1))], out
    )


def _interval_text(ch_interval: str) -> str:
    m = re.match(
        r"\s*INTERVAL\s+(\d+)\s+(\w+)\s*", ch_interval, flags=re.IGNORECASE
    )
    if not m:
        return ch_interval
    return f"{m.group(1)} {m.group(2).lower()}"


def run_clickhouse_sql(
    spark: SparkSession,
    sql: str,
    table_map: dict[str, str] | None = None,
) -> DataFrame:
    """Translate and execute a ClickHouse SQL string against the views
    registered on ``spark`` (see ``cli.py sql --dialect clickhouse``)."""
    return spark.sql(translate(sql, table_map=table_map))
