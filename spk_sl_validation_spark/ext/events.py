"""Per-key sequential event operators.

Token-bucket rate limiting is the canonical *inherently sequential*
per-key fold: each decision depends on the clamped state left by the
previous one (``min(cap, tokens + dt*rate)`` is non-associative), so
no window/prefix-sum decomposition exists. The right Spark shape is an
Arrow-batched ordered fold per key (``applyInPandas`` — one Python
pass over each user's sorted events, thousands of keys in parallel),
NOT a row-at-a-time UDF and NOT a driver loop. The DuckDB oracle
replays the identical IEEE arithmetic as a recursive CTE stepping all
keys' sequences in lockstep, so the fold is value-verified end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Token-bucket size and refill (tokens per second of event-time gap)
#: of the registered rate-limit query and its oracle.
RL_CAP = 5.0
RL_RATE = 0.01


def rate_limit_accept(
    df: DataFrame,
    cap: float = RL_CAP,
    rate_per_s: float = RL_RATE,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Token-bucket admission per user: the bucket starts full
    (``cap``), refills at ``rate_per_s`` tokens/second of event-time
    gap (clamped at ``cap``), and each accepted event spends one
    token. Returns (event_id, user_id, ts, accepted, tokens_after)
    with ``tokens_after`` rounded to 6.

    Determinism: gaps are integer epoch-microsecond differences
    divided by 1e6, and every update is the same fixed-order IEEE
    expression the oracle's recursive CTE evaluates — bit-identical
    (tokens_after rounds HALF_UP like F.round/DuckDB, not Python's
    banker's round, which diverges on exact ties).

    NULL ``user_col`` caveat: groupBy folds all NULL users as one
    bucket, but the oracle's recursive join (``e.user_id =
    st.user_id``) never matches NULL, so the oracle drops idx ≥ 2
    NULL-user rows — filter NULL users out before rate limiting if
    the stream can contain them (the driver tables cannot).
    """
    # id/user/ts field types come from the input schema — a string or
    # int id must pass through unchanged, not be coerced to long.
    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        f"{id_col} {in_fields[id_col]}, {user_col} {in_fields[user_col]}, "
        f"{ts_col} {in_fields[ts_col]}, accepted boolean, tokens_after double"
    )

    def fold(pdf):
        from decimal import ROUND_HALF_UP, Decimal

        def round6(x: float) -> float:
            # HALF_UP on the shortest decimal repr — what F.round and
            # DuckDB's round() do. Python's built-in round() is
            # banker's (half-even) and diverges on exact ties, e.g.
            # round(3.0078125, 6): 3.007812 vs the oracle's 3.007813.
            return float(
                Decimal(str(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )

        pdf = pdf.sort_values([ts_col, id_col]).reset_index(drop=True)
        us = pdf[ts_col].astype("int64") // 1000  # ns -> µs
        tokens = float(cap)
        prev_us = None
        accepted = []
        tokens_after = []
        for cur in us:
            avail = (
                tokens
                if prev_us is None
                else min(cap, tokens + (float(cur - prev_us) / 1000000.0) * rate_per_s)
            )
            ok = avail >= 1.0
            tokens = avail - 1.0 if ok else avail
            accepted.append(ok)
            tokens_after.append(round6(tokens))
            prev_us = cur
        pdf = pdf[[id_col, user_col, ts_col]].copy()
        pdf["accepted"] = accepted
        pdf["tokens_after"] = tokens_after
        return pdf

    return df.select(id_col, user_col, ts_col).groupBy(user_col).applyInPandas(
        fold, out_schema
    )


def rate_limit_oracle_sql(table: str = "events", where: str = "TRUE") -> str:
    """Recursive-CTE replay of :func:`rate_limit_accept` at ``RL_CAP``
    and ``RL_RATE`` (same IEEE expression order; ``avail`` is computed
    in a lateral-style projection so the clamp appears exactly once
    per step)."""
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
  FROM {table} WHERE {where}
),
st(user_id, idx, us, tokens, accepted, event_id, ts) AS (
  SELECT user_id, idx, us,
         CAST(CASE WHEN {RL_CAP!r} >= 1.0 THEN {RL_CAP!r} - 1.0 ELSE {RL_CAP!r} END AS DOUBLE),
         {RL_CAP!r} >= 1.0, event_id, ts
  FROM ev WHERE idx = 1
  UNION ALL
  SELECT e.user_id, e.idx, e.us,
         CASE WHEN a.avail >= 1.0 THEN a.avail - 1.0 ELSE a.avail END,
         a.avail >= 1.0, e.event_id, e.ts
  FROM st
  JOIN ev e ON e.user_id = st.user_id AND e.idx = st.idx + 1
  CROSS JOIN LATERAL (
    SELECT least(CAST({RL_CAP!r} AS DOUBLE), st.tokens
                 + (CAST(e.us - st.us AS DOUBLE) / 1000000.0) * {RL_RATE!r}) AS avail
  ) a
)
SELECT event_id, user_id, ts, accepted, round(tokens, 6) AS tokens_after
FROM st
"""
