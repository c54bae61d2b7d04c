"""Custom stateful streaming operators via ``applyInPandasWithState``.

Where ``F.window`` / ``F.session_window`` cover declarative event-time
aggregation (streaming/jobs.py), these operators hold EXPLICIT per-key
state across micro-batches — the escape hatch for semantics Spark's
built-in stateful operators can't express (running per-entity aggregates
emitted every batch, custom timeout policies, state machines).

Every stream runs on one harness, :func:`_stateful`: it groups by the
key, concatenates the key's frames of a micro-batch, sorts them by
(ts, event_id) where the stream has an ordering contract, and calls the
stream's ``fold(key, pdf, state)``.

Prices become integer cents by one of two rules, each written once:

- the floor rule ``floor(v·100 + 0.5)``, :func:`bars.pandas_cents` (the
  pandas twin of the Spark ``bars.cents`` and the SQL ``_CENTS``), for the
  streams whose batch twins build bars or tick signs on it;
- the decimal rule, :func:`_decimal_cents` (Python ``Decimal`` HALF_UP),
  for anomaly and drawdown, whose batch twins sum ``cast("decimal(18,2)")``.

They disagree on ties: ``1.005 * 100`` is 100.49999999999999 in binary64,
so 1.005 is 100 cents under the floor rule and 101 under the decimal rule.

NULL prices: no stream fails on one; each does what its batch twin does.
vwap counts the row in ``n_events`` and ``total_vol`` but not in Σcents·k;
obv gives a day whose last trade is NULL a NULL close and no OBV step;
dollar bars leave the row out of every bar (the batch assigns it a NULL
``bar_id``); drawdown and anomaly follow the ``decimal(18,2)`` sum and
count; vpin and markout follow ``_tick_signed`` (a NULL price is no tick
evidence either side of it, and a markout with a NULL end is NULL). psi
and cusum have no batch twin at their granularity: there the row counts
in ``batch_n`` and adds nothing to the histogram or the move.

Scale notes: state lives in the state store partitioned by the grouping
key — the same hash partitioning as any shuffle, so a 1000-executor
cluster holds 1/1000th of the keys per executor. State rows here are a
handful of scalars per key (bounded), and timeouts (`GroupStateTimeout`)
are how unbounded key spaces get evicted in production. The folds call
this package's helpers, so Python workers must be able to import it, as
for the registered pandas UDFs.
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.bars import pandas_cents

# The ordering contract of the state machines: sorted by (ts, event_id)
# within a micro-batch; across batches the source must deliver each key's
# events in event-time order (the per-key ordering a partitioned log gives).
_BY_TIME = ["ts", "event_id"]
_CENT = Decimal("0.01")


def _stateful(
    df: DataFrame,
    key: str,
    fold: Callable[[tuple, pd.DataFrame, GroupState], pd.DataFrame],
    out_schema: str,
    state_schema: str,
    mode: str,
    order: list[str] | None = None,
) -> DataFrame:
    """``df.groupBy(key)`` folded by ``fold(key, pdf, state)`` once per key
    and micro-batch, ``pdf`` holding all of the key's rows of the batch
    (sorted by ``order`` if given); the frame ``fold`` returns is emitted
    in output mode ``mode``. No timeout: state lives as long as its key."""

    def run(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order:
            pdf = pdf.sort_values(order, kind="mergesort")
        yield fold(k, pdf, state)

    return df.groupBy(key).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _decimal_cents(v) -> int | None:
    """Integer cents of ``v`` by Python ``Decimal`` HALF_UP, None for NULL:
    the batch ``cast("decimal(18,2)")``. 1.005 gives 101, where the floor
    rule (:func:`bars.pandas_cents`) gives 100."""
    if pd.isna(v):
        return None
    return int(Decimal(str(float(v))).quantize(_CENT, ROUND_HALF_UP) * 100)


def _qty(props: pd.Series) -> pd.Series:
    """Trade size ``props.$.k``, 0 where missing or unparsable: the pandas
    twin of ``coalesce(get_json_object(props, '$.k')::long, 0)``."""

    def k(p) -> int:
        try:
            return int(json.loads(p).get("k", 0) or 0)
        except (TypeError, ValueError, AttributeError):
            return 0

    return props.map(k).astype("int64")


def _ints(values: pd.Series) -> list:
    """An Int64 column as Python ints, None where NULL: what the row loops
    compare and the state store takes."""
    return values.to_numpy(object, na_value=None).tolist()


RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
RUNNING_TOTALS_STATE = "n long, total double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained as explicit state;
    emits the updated totals for every user seen in each micro-batch.

    Equivalent batch query: ``groupBy(user_id).agg(count, sum)`` — the
    streaming form never recomputes history, it folds each batch into
    O(1) state per key. Use outputMode('update').
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        n, total = state.get if state.exists else (0, 0.0)
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        # repo quantization convention (floor(x*s+0.5)/s, half-up) — NOT
        # Python round(), whose half-even ties diverge from F.round
        total_q = pandas_cents(pd.Series([total])).iloc[0] / 100
        return pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total_q]}
        )

    return _stateful(
        events, "user_id", fold, RUNNING_TOTALS_SCHEMA, RUNNING_TOTALS_STATE,
        "update",
    )


ANOMALY_SCHEMA = "event_id long, user_id long, zscore double, is_outlier boolean"
ANOMALY_STATE = "buf array<double>"


def anomaly_stream(events: DataFrame, lookback: int = 20, flag: float = 3.0) -> DataFrame:
    """Streaming rolling z-score anomaly detection — the stateful form of
    ``operators/analytics_queries.zscore_outliers``: each event is scored
    against the previous ``lookback`` values of the same user, held as an
    O(lookback) ring buffer in the state store.

    Bit-exact with the batch op (streaming≡batch test): values are
    quantized to integer cents on arrival (:func:`_decimal_cents` mirrors
    Spark's decimal(18,2) cast), the moments are O(1) running integer
    sums (float(S)/100 is the correctly-rounded double of the exact
    decimal sum — same bits as the batch cast), and the variance/z
    expressions use the identical floating-point association. A NULL
    value fills its slot with 0: it counts in the frame and adds nothing
    to the sums, as in the batch window's count(*) and sum; scored
    itself, it gets a NULL zscore and is_outlier.

    Ordering contract: see ``_BY_TIME``. Use outputMode('append') — each
    event is scored exactly once.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        # buffer holds integer CENTS (exact in a double column)
        buf = [int(b) for b in state.get[0]] if state.exists else []
        s_c = sum(buf)
        ss_c = sum(b * b for b in buf)
        out: dict[str, list] = {"event_id": [], "user_id": [], "zscore": [], "is_outlier": []}
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            if len(buf) == lookback:
                s = float(s_c) / 100.0
                ss = float(ss_c) / 10000.0
                k = float(lookback)
                mean = s / k
                var = (ss - (k * mean) * mean) / float(lookback - 1)
                if var > 0:
                    zq = None
                    if not pd.isna(v):
                        zq = math.floor((v - mean) / math.sqrt(var) * 1000 + 0.5) / 1000
                    out["event_id"].append(int(eid))
                    out["user_id"].append(int(key[0]))
                    out["zscore"].append(zq)
                    out["is_outlier"].append(None if zq is None else abs(zq) > flag)
            cents = _decimal_cents(v) or 0
            buf.append(cents)
            s_c += cents
            ss_c += cents * cents
            if len(buf) > lookback:
                old = buf.pop(0)
                s_c -= old
                ss_c -= old * old
        state.update(([float(b) for b in buf],))
        return pd.DataFrame(out)

    return _stateful(
        events, "user_id", fold, ANOMALY_SCHEMA, ANOMALY_STATE, "append", _BY_TIME
    )


FUNNEL_SCHEMA = "user_id long, stage integer, t1 long, t2 long, t3 long"
FUNNEL_STATE = "t1 long, t2 long, t3 long"
_UNSET = -1


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel — the stateful form of
    ``operators/analytics_queries.funnel_counts``: a 3-slot per-user state
    machine (first signup ts; first click strictly after it; first
    purchase strictly after that), advanced as events arrive.

    Emits each updated user's current stage per micro-batch (use
    outputMode('update')); the final state aggregates to exactly the
    batch operator's stage counts (streaming≡batch test). Timestamps are
    held as epoch micros, ``-1`` = stage not reached. Ordering contract:
    see ``_BY_TIME``.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        t1, t2, t3 = state.get if state.exists else (_UNSET, _UNSET, _UNSET)
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        for t, typ in zip(ts_us, pdf["event_type"]):
            if t1 == _UNSET:
                if typ == "signup":
                    t1 = int(t)
            elif t2 == _UNSET:
                if typ == "click" and t > t1:
                    t2 = int(t)
            elif t3 == _UNSET:
                if typ == "purchase" and t > t2:
                    t3 = int(t)
        state.update((t1, t2, t3))
        stage = 3 if t3 != _UNSET else 2 if t2 != _UNSET else 1 if t1 != _UNSET else 0
        return pd.DataFrame(
            {"user_id": [key[0]], "stage": [stage], "t1": [t1], "t2": [t2], "t3": [t3]}
        )

    return _stateful(
        events, "user_id", fold, FUNNEL_SCHEMA, FUNNEL_STATE, "update", _BY_TIME
    )


SESSIONIZE_SCHEMA = "event_id long, user_id long, session_id long"
SESSIONIZE_STATE = "last_us long, sess long"


def sessionize_stream(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Streaming sessionization — the stateful form of
    ``operators/profiling_queries.sessionize``: per-user state is just
    (last event micros, session counter); a gap >= ``gap_min`` minutes
    starts a new session. Emits (event_id, session_id) per event in
    append mode, matching the batch assignment exactly (streaming≡batch
    test). Same ordering contract as the other state machines here.
    """
    gap_us = gap_min * 60_000_000

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        last_us, sess = state.get if state.exists else (None, 0)
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        out_ids, out_sess = [], []
        for eid, t in zip(pdf["event_id"], ts_us):
            if last_us is None or (t - last_us) >= gap_us:
                sess += 1
            last_us = int(t)
            out_ids.append(int(eid))
            out_sess.append(sess)
        state.update((last_us, sess))
        return pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": [int(key[0])] * len(out_ids),
                "session_id": out_sess,
            }
        )

    return _stateful(
        events, "user_id", fold, SESSIONIZE_SCHEMA, SESSIONIZE_STATE, "append",
        _BY_TIME,
    )


DRAWDOWN_SCHEMA = (
    "user_id long, max_drawdown double, peak_equity double, n_events long"
)
DRAWDOWN_STATE = "equity_c long, peak_c long, mdd_c long, n long"


def drawdown_stream(events: DataFrame) -> DataFrame:
    """Streaming max drawdown — the stateful form of
    ``operators.trading_queries.max_drawdown``: O(1) state per user
    (equity, running peak, max drawdown, all in exact integer cents),
    folded event by event; each micro-batch emits the user's current
    figures (outputMode('update')).

    Exactness: one :func:`_decimal_cents` per event on arrival mirrors
    the batch decimal(18,2) cast; everything after is integer
    arithmetic, and cents/100.0 is the correctly-rounded double of the
    exact decimal — bit-identical to the batch output. A NULL value
    counts in ``n_events`` and moves nothing, as the batch decimal sum
    skips it; a user with no value yet has NULL figures. Ordering
    contract: see ``_BY_TIME``.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        equity_c, peak_c, mdd_c, n = (
            state.get if state.exists else (0, None, 0, 0)
        )
        for cents in map(_decimal_cents, pdf["value"]):
            n += 1
            if cents is None:
                continue
            equity_c += cents
            peak_c = equity_c if peak_c is None else max(peak_c, equity_c)
            mdd_c = max(mdd_c, peak_c - equity_c)
        state.update((equity_c, peak_c, mdd_c, n))
        priced = peak_c is not None
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "max_drawdown": [mdd_c / 100.0 if priced else None],
                "peak_equity": [peak_c / 100.0 if priced else None],
                "n_events": [n],
            }
        )

    return _stateful(
        events, "user_id", fold, DRAWDOWN_SCHEMA, DRAWDOWN_STATE, "update",
        _BY_TIME,
    )


HH_SCHEMA = (
    "event_type string, user_id long, est_count long, max_err long, "
    "version long"
)
HH_STATE = "ids array<long>, cnts array<long>, errs array<long>, version long"


def heavy_hitters_stream(events: DataFrame, capacity: int = 50) -> DataFrame:
    """Streaming top users per event type via the SpaceSaving summary —
    bounded O(capacity) state per key no matter how many distinct users
    flow past, the canonical answer to "top-k over an unbounded stream"
    (batch counterpart: operators/quality_queries heavy hitters).

    Per micro-batch each type's user counts fold into its summary:
    known user → count += c; free slot → insert with error 0; full →
    evict the minimum-count entry and the newcomer inherits its count
    (that minimum becomes the newcomer's error bound). Guarantees, both
    asserted in tests: any user with true count > N/capacity is present,
    and true_count ∈ [est − err, est]. Emits each type's full summary
    per batch with a monotone ``version`` so consumers (and the
    update-mode memory sink) can select the latest.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        if state.exists:
            ids, cnts, errs, version = state.get
            summary = {
                i: [c, e] for i, c, e in zip(ids, cnts, errs)
            }
        else:
            summary, version = {}, 0
        for uid, c in pdf["user_id"].value_counts().items():
            uid, c = int(uid), int(c)
            if uid in summary:
                summary[uid][0] += c
            elif len(summary) < capacity:
                summary[uid] = [c, 0]
            else:
                evict = min(summary, key=lambda k: summary[k][0])
                floor_c = summary.pop(evict)[0]
                summary[uid] = [floor_c + c, floor_c]
        version += 1
        ids = sorted(summary)
        state.update(
            (
                ids,
                [summary[i][0] for i in ids],
                [summary[i][1] for i in ids],
                version,
            )
        )
        return pd.DataFrame(
            {
                "event_type": key[0],
                "user_id": ids,
                "est_count": [summary[i][0] for i in ids],
                "max_err": [summary[i][1] for i in ids],
                "version": version,
            }
        )

    return _stateful(events, "event_type", fold, HH_SCHEMA, HH_STATE, "update")


NEARDUP_SCHEMA = "doc_id long, kept boolean, dup_of long, hamming int"
NEARDUP_STATE = "ids array<long>, sigs array<long>"
NEARDUP_BAND_BITS = 16
NEARDUP_MAX_HAMMING = 3
NEARDUP_STATE_CAP = 256


def neardup_stream(
    docs: DataFrame,
    band_bits: int = NEARDUP_BAND_BITS,
    max_hamming: int = NEARDUP_MAX_HAMMING,
    cap: int = NEARDUP_STATE_CAP,
    bits: int = 60,
) -> DataFrame:
    """Streaming near-duplicate suppression: emit each document once with
    a keep/drop verdict against everything seen before it — the ingest-
    time filter that keeps near-copies out of a training corpus without
    a batch dedup pass over the accumulated lake.

    Mechanics: the shared batch SimHash expression
    (operators.dedup.simhash_expr — one codegen'd pass, zero shuffle)
    fingerprints each doc; the stream groups by the fingerprint's top
    ``band_bits`` bits and each band's state holds the signatures seen
    in that band. A doc whose signature is within ``max_hamming`` bits
    of ANY stored signature is marked ``kept=false`` with the matched
    doc and distance; otherwise it is stored and ``kept=true``.

    Semantics are GREEDY-SEQUENTIAL by (ts, doc_id) — the first arrival
    wins, later near-copies drop, and a dropped doc still occupies no
    state (only kept docs suppress followers), matching the batch greedy
    reference asserted in tests/test_streaming.py.

    Scale/recall notes:
    - state is per-band and FIFO-capped at ``cap`` signatures (~2·8·cap
      bytes per band, 2^band_bits bands worst-case) — bounded like
      heavy_hitters_stream, evicting the oldest signature first;
    - single-band LSH: a true near-dup pair is missed iff one of its
      ≤ ``max_hamming`` differing bits falls inside the band
      (probability ≈ max_hamming·band_bits/bits per pair) — the standard
      banding trade; the batch q_simhash/q_dedup_near passes remain the
      exhaustive sweep, this operator is the cheap online prefilter.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import simhash_expr

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        if state.exists:
            ids, sigs = state.get
            ids, sigs = list(ids), list(sigs)
        else:
            ids, sigs = [], []
        out: dict[str, list] = {"doc_id": [], "kept": [], "dup_of": [], "hamming": []}
        for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
            doc_id, sig = int(doc_id), int(sig)
            hit_id, hit_d = None, None
            for kid, ksig in zip(ids, sigs):
                d = (sig ^ ksig).bit_count()
                if d <= max_hamming and (hit_d is None or d < hit_d):
                    hit_id, hit_d = kid, d
            out["doc_id"].append(doc_id)
            if hit_id is None:
                ids.append(doc_id)
                sigs.append(sig)
                out["kept"].append(True)
                out["dup_of"].append(None)
                out["hamming"].append(None)
            else:
                out["kept"].append(False)
                out["dup_of"].append(hit_id)
                out["hamming"].append(hit_d)
        state.update((ids[-cap:], sigs[-cap:]))
        return pd.DataFrame(out)

    banded = docs.select(
        "doc_id",
        "ts",
        simhash_expr("text", bits).alias("sig"),
    ).withColumn("band", F.shiftright("sig", bits - band_bits))
    return _stateful(
        banded, "band", fold, NEARDUP_SCHEMA, NEARDUP_STATE, "append",
        ["ts", "doc_id"],
    )


OBV_SCHEMA = "event_type string, day date, close double, vol long, obv long"
OBV_STATE = (
    "cur_day long, day_close_c long, day_vol long, prev_close_c long, obv long"
)


def obv_stream(events: DataFrame) -> DataFrame:
    """Streaming On-Balance Volume — the stateful form of
    ``operators.indicators_queries.obv``: O(1) state per event type
    (current day's last close + volume, previous day's close, running
    OBV, all exact integers), folding events as they arrive and EMITTING
    a day's bar when its first successor-day event shows up
    (outputMode('append') — a day is final once a later day begins,
    matching the batch daily-bar semantics; the in-progress day stays
    pending until then).

    Exactness: the same floor-rule cents and ``props.$.k`` volume as the
    batch bar, so every finalized day is bit-identical to the batch
    q_obv row (asserted in tests/test_streaming.py). A day whose last
    trade has a NULL price has a NULL close, as in ``bars.ohlc``, and
    no OBV step into or out of it. Ordering contract: see ``_BY_TIME``."""
    import datetime as _dt

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        cur_day, day_close_c, day_vol, prev_close_c, obv = (
            state.get if state.exists else (-1, None, 0, None, 0)
        )
        out: dict[str, list] = {
            "event_type": [], "day": [], "close": [], "vol": [], "obv": []
        }

        def finalize():
            nonlocal prev_close_c, obv
            if day_close_c is not None and prev_close_c is not None:
                if day_close_c > prev_close_c:
                    obv += day_vol
                elif day_close_c < prev_close_c:
                    obv -= day_vol
            out["event_type"].append(key[0])
            out["day"].append(_dt.date.fromordinal(cur_day))
            out["close"].append(None if day_close_c is None else day_close_c / 100.0)
            out["vol"].append(day_vol)
            out["obv"].append(obv)
            prev_close_c = day_close_c

        prices = _ints(pandas_cents(pdf["value"]))
        for ts, cents, q in zip(pdf["ts"], prices, _qty(pdf["props"])):
            d = ts.date().toordinal()
            if cur_day == -1:
                cur_day = d
            elif d != cur_day:
                finalize()
                cur_day, day_vol = d, 0
            day_close_c = cents
            day_vol += q
        state.update((cur_day, day_close_c, day_vol, prev_close_c, obv))
        return pd.DataFrame(out)

    return _stateful(
        events, "event_type", fold, OBV_SCHEMA, OBV_STATE, "append", _BY_TIME
    )


def vwap_stream(events: DataFrame) -> DataFrame:
    """Streaming cumulative VWAP per event type (update semantics: the
    latest row per key is the current value). Exact integer sums, one
    division at emit, so the final row is bit-identical to the batch
    ``sum(cents·k)/sum(k)/100`` (asserted in tests/test_streaming.py).
    A NULL price counts in ``n_events`` and ``total_vol`` but not in
    Σcents·k; a type with no priced row yet has a NULL vwap.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        spv, sv, n = state.get if state.exists else (None, 0, 0)
        q = _qty(pdf["props"])
        pv = (pandas_cents(pdf["value"]) * q).sum(min_count=1)
        if not pd.isna(pv):
            spv = (spv or 0) + int(pv)
        sv += int(q.sum())
        n += len(pdf)
        state.update((spv, sv, n))
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "total_vol": [sv],
                "vwap": [spv / (sv * 100.0) if sv and spv is not None else None],
            }
        )

    return _stateful(
        events,
        "event_type",
        fold,
        "event_type string, n_events long, total_vol long, vwap double",
        "spv long, sv long, n long",
        "update",
    )


# ------------------------------------------------ lateness monitor (E132)

LATE_SCHEMA = (
    "event_type string, seq long, batch_n long, batch_late long, "
    "batch_max_late_us long, run_max_tus long"
)
LATE_STATE = "max_tus long, has long, seq long"


def lateness_stream(events: DataFrame) -> DataFrame:
    """Streaming watermark-lateness monitor — the streaming twin of
    ``operators.profiling_queries.lateness_audit`` at WATERMARK
    granularity: Structured Streaming advances the watermark BETWEEN
    micro-batches, so the operationally honest lateness of an event is
    its distance behind the maximum event time of the PRECEDING batches
    (not the per-row running max the batch audit measures). Per
    event_type and micro-batch this emits how many events arrived late
    under that definition and the worst lateness — the live dashboard
    that tells you whether the configured ``withWatermark`` horizon is
    still sufficient, long before rows silently drop.

    State is O(1) per event_type (the running max event-time in µs,
    exact integers); emission is one row per (type, batch) with data.
    Deterministic given the micro-batch sequence (the file/offset order
    the source replays); equivalence against a pure-Python fold over
    the same batch boundaries is asserted in tests/test_streaming.py.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        max_tus, has, seq = state.get if state.exists else (0, 0, 0)
        tus = (pdf["ts"].astype("datetime64[us]").astype("int64")).to_numpy()
        if has:
            late = max_tus - tus
            n_late = int((late > 0).sum())
            worst = int(late.max()) if n_late else 0
            worst = max(worst, 0)
        else:
            n_late, worst = 0, 0
        new_max = max(int(tus.max()), max_tus if has else int(tus.max()))
        state.update((new_max, 1, seq + 1))
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "seq": [seq],
                "batch_n": [len(pdf)],
                "batch_late": [n_late],
                "batch_max_late_us": [worst],
                "run_max_tus": [new_max],
            }
        )

    return _stateful(events, "event_type", fold, LATE_SCHEMA, LATE_STATE, "append")


# ---------------------------------------------------------- dollar bars

DBAR_SCHEMA = (
    "event_type string, bar_id long, n_trades long, open double, "
    "high double, low double, close double, bar_dollars long"
)
DBAR_STATE = (
    "gcum long, bar_id long, o long, h long, l long, c long, "
    "n long, dollars long"
)


def dollar_bars_stream(events: DataFrame, threshold: int = 10_000_000) -> DataFrame:
    """Streaming dollar bars — the stateful form of
    ``operators.indicators2_queries.dollar_bars``: O(1) state per event
    type (running dollar total + the in-progress bar's OHLC/volume, all
    exact integers), emitting a bar the moment the first trade of the
    NEXT bar arrives (outputMode('append'); the in-progress bar stays
    pending — identical finality contract to obv_stream's day bars).

    A bar is identified by the dollars accumulated BEFORE each trade
    (floor(gcum/threshold)), the same convention as the batch two-pass
    cumsum, so every finalized bar is bit-identical to the batch row
    (asserted in tests/test_streaming.py). A trade with a NULL price has
    NULL dollars, so the batch gives it a NULL ``bar_id``: it joins no
    bar here and moves no running total. Ordering contract: see
    ``_BY_TIME``."""

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        gcum, bar_id, o, h, l, c, n, dollars = (
            state.get if state.exists else (0, -1, 0, 0, 0, 0, 0, 0)
        )
        out: dict[str, list] = {
            "event_type": [], "bar_id": [], "n_trades": [], "open": [],
            "high": [], "low": [], "close": [], "bar_dollars": [],
        }

        def emit():
            out["event_type"].append(key[0])
            out["bar_id"].append(bar_id)
            out["n_trades"].append(n)
            out["open"].append(o / 100.0)
            out["high"].append(h / 100.0)
            out["low"].append(l / 100.0)
            out["close"].append(c / 100.0)
            out["bar_dollars"].append(dollars)

        for cents, q in zip(_ints(pandas_cents(pdf["value"])), _qty(pdf["props"])):
            if cents is None:
                continue
            d = cents * q
            b = gcum // threshold
            if b != bar_id:
                if bar_id != -1:
                    emit()
                bar_id, o, h, l, n, dollars = b, cents, cents, cents, 0, 0
            h = max(h, cents)
            l = min(l, cents)
            c = cents
            n += 1
            dollars += d
            gcum += d
        state.update((gcum, bar_id, o, h, l, c, n, dollars))
        return pd.DataFrame(out)

    return _stateful(
        events, "event_type", fold, DBAR_SCHEMA, DBAR_STATE, "append", _BY_TIME
    )


# ------------------------------------------------------ streaming VPIN

VPIN_SCHEMA = (
    "event_type string, bucket_id long, n_trades long, buy long, "
    "sell long, imb long, vpin double"
)
VPIN_STATE = (
    "last_c long, sgn int, cum long, cur_b long, n long, "
    "buy long, sell long, seq long, imbs array<long>, vols array<long>"
)


def _tick(sgn: int, last_c: int | None, cents: int | None) -> int:
    """The tick rule of ``_tick_signed``: the sign of a nonzero price
    change, else the carried sign. A NULL price on either side of the
    change is no evidence."""
    if cents is None or last_c is None or cents == last_c:
        return sgn
    return 1 if cents > last_c else -1


def vpin_stream(events: DataFrame, v: int = 5000, k: int = 5) -> DataFrame:
    """Streaming VPIN — the stateful form of
    ``operators.microstructure_queries.vpin``: O(k) state per event
    type (last price + carried tick sign + running classified volume +
    the open bucket's partials + the trailing k−1 completed buckets'
    (imb, vol) pairs, all exact integers). A bucket is emitted the
    moment the first trade of a LATER bucket arrives and the trailing
    frame holds k buckets with positive volume — identical finality
    contract to dollar_bars_stream (the per-type final partial bucket
    stays pending), bit-identical rows to the batch plan for every
    finalized bucket (asserted in tests/test_streaming.py).

    Rows before the first nonzero price change carry no tick evidence
    and are excluded from the volume clock on both paths; bucket
    assignment is the same exact integer ``cum // v``. A NULL-priced
    trade takes the carried sign (:func:`_tick`). Ordering contract:
    see ``_BY_TIME``.
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        if state.exists:
            (last_c, sgn, cum, cur_b, n, buy, sell, seq, imbs, vols) = state.get
            imbs, vols = list(imbs), list(vols)
        else:
            last_c, sgn, cum, cur_b, n, buy, sell, seq = (
                None, 0, 0, -1, 0, 0, 0, 0
            )
            imbs, vols = [], []
        out: dict[str, list] = {
            "event_type": [], "bucket_id": [], "n_trades": [], "buy": [],
            "sell": [], "imb": [], "vpin": [],
        }

        def finalize():
            nonlocal seq
            imb, vol = abs(buy - sell), buy + sell
            seq += 1
            if seq >= k:
                si = imb + sum(imbs)
                sv = vol + sum(vols)
                if sv > 0:
                    out["event_type"].append(key[0])
                    out["bucket_id"].append(cur_b)
                    out["n_trades"].append(n)
                    out["buy"].append(buy)
                    out["sell"].append(sell)
                    out["imb"].append(imb)
                    out["vpin"].append(
                        math.floor(si / sv * 1_000_000 + 0.5) / 1_000_000
                    )
            imbs.append(imb)
            vols.append(vol)
            if k > 1:
                del imbs[: -(k - 1)], vols[: -(k - 1)]
            else:
                imbs.clear()
                vols.clear()

        for cents, q in zip(_ints(pandas_cents(pdf["value"])), _qty(pdf["props"])):
            sgn, last_c = _tick(sgn, last_c, cents), cents
            if sgn == 0:
                continue
            b = cum // v
            if b != cur_b:
                if cur_b != -1:
                    finalize()
                cur_b, n, buy, sell = b, 0, 0, 0
            n += 1
            if sgn > 0:
                buy += q
            else:
                sell += q
            cum += q
        state.update((last_c, sgn, cum, cur_b, n, buy, sell, seq, imbs, vols))
        return pd.DataFrame(out)

    return _stateful(
        events, "event_type", fold, VPIN_SCHEMA, VPIN_STATE, "append", _BY_TIME
    )


# -------------------------------------------------- streaming markouts

MARKOUT_SCHEMA = "event_type string, horizon int, seq long, mv long"
MARKOUT_STATE = "last_c long, sgn int, seq long, cs array<long>, ss array<long>"


def markout_stream(
    events: DataFrame, horizons: tuple = (1, 5, 20)
) -> DataFrame:
    """Streaming per-trade markouts — the event feed behind the batch
    ``operators.microstructure_queries.markouts`` aggregate: when trade
    n arrives, the trade n−h (for each horizon h) gets its signed
    forward move ``s·(c_n − c_{n−h})`` emitted, so execution quality is
    observable per venue in near-real-time instead of end-of-day.

    State is O(max(h)) per event type: the trailing max-horizon ring of
    (cents, carried tick sign) plus the carry — exact integers only.
    A trade whose sign is still undefined (no price change seen yet)
    occupies its ring slot but emits nothing, matching the batch
    probe-side filter; trades at the end of the stream whose horizon
    never completes are never emitted, matching the batch inner join.
    A NULL price at either end gives a NULL ``mv``, which the batch
    counts in ``n_trades`` and leaves out of the sum. Aggregating the
    emitted rows per (type, horizon) reproduces the batch q_markout
    means bit-for-bit (asserted in tests/test_streaming.py). Ordering
    contract: see ``_BY_TIME``.
    """
    hmax = max(horizons)

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        if state.exists:
            last_c, sgn, seq, cs, ss = state.get
            cs, ss = list(cs), list(ss)
        else:
            last_c, sgn, seq = None, 0, 0
            cs, ss = [], []
        out: dict[str, list] = {
            "event_type": [], "horizon": [], "seq": [], "mv": [],
        }
        for cents in _ints(pandas_cents(pdf["value"])):
            sgn, last_c = _tick(sgn, last_c, cents), cents
            for h in horizons:
                i = len(cs) - h
                if i >= 0 and ss[i] != 0:
                    out["event_type"].append(key[0])
                    out["horizon"].append(h)
                    out["seq"].append(seq - h)
                    out["mv"].append(
                        None if cents is None or cs[i] is None
                        else ss[i] * (cents - cs[i])
                    )
            cs.append(cents)
            ss.append(sgn)
            del cs[:-hmax], ss[:-hmax]
            seq += 1
        state.update((last_c, sgn, seq, cs, ss))
        return pd.DataFrame(out)

    return _stateful(
        events, "event_type", fold, MARKOUT_SCHEMA, MARKOUT_STATE, "append",
        _BY_TIME,
    )


# ---------------------------------------------------------------- PSI

PSI_SCHEMA = (
    "event_type string, seq long, batch_n long, ref_n long, psi double"
)
PSI_STATE = "ref array<long>, seq long"
PSI_BINS_S = 10
PSI_MN_C, PSI_MX_C = 0, 40_000  # integer-cent bin range (test data <= $400)


def psi_stream(
    events: DataFrame,
    bins: int = PSI_BINS_S,
    mn_c: int = PSI_MN_C,
    mx_c: int = PSI_MX_C,
) -> DataFrame:
    """Streaming PSI drift monitor — the stateful twin of
    ``operators.corpus3_queries.psi`` at micro-batch granularity: the
    FIRST micro-batch per event_type freezes the reference histogram
    (B fixed equal-width integer-cent bins over [mn_c, mx_c]); every
    later batch emits its Laplace-smoothed (c+1)/(n+B) PSI against that
    reference — the live 0.1/0.25-threshold drift dashboard.

    State is O(B) longs per event_type; emission is one row per
    (type, batch). Deterministic given the micro-batch sequence;
    equivalence against a pure-Python fold over the same batch
    boundaries is asserted in tests/test_streaming.py. ln enters only
    in the final per-bin chain (the batch PSI contract), so stream and
    batch folds agree bit-for-bit on the same counts. A NULL price has
    no batch twin at this granularity: it counts in ``batch_n`` and
    adds nothing to the histogram (``ref_n`` is the histogram's size).
    """
    width = mx_c - mn_c + 1

    def _hist(values: pd.Series) -> list:
        c = pandas_cents(values).dropna()
        b = ((c - mn_c) * bins // width).clip(0, bins - 1)
        return np.bincount(b.to_numpy("int64"), minlength=bins).tolist()

    def _psi(ref: list, cur: list) -> float:
        nr, nc = sum(ref), sum(cur)
        out = 0.0
        for b in range(bins):
            p = (ref[b] + 1) / (nr + bins)
            q = (cur[b] + 1) / (nc + bins)
            out += (p - q) * math.log(p / q)
        return out

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        ref, seq = state.get if state.exists else (None, 0)
        cur = _hist(pdf["value"])
        # the first batch for this key becomes the reference
        ref, psi = (cur, None) if ref is None else (list(ref), _psi(ref, cur))
        state.update((ref, seq + 1))
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "seq": [seq],
                "batch_n": [len(pdf)],
                "ref_n": [sum(ref)],
                "psi": [psi],
            }
        )

    return _stateful(events, "event_type", fold, PSI_SCHEMA, PSI_STATE, "append")


# ---------------------------------------------------------------- CUSUM

CUSUM_SCHEMA = (
    "event_type string, seq long, batch_n long, alarms_up long, "
    "alarms_down long, s_up double, s_down double"
)
CUSUM_STATE = "last_c long, cp long, mp long, cn long, mn long, seq long"


def cusum_stream(
    events: DataFrame, k: int = 100, h: int = 1000
) -> DataFrame:
    """Streaming two-sided Page CUSUM — the stateful twin of
    ``operators.analytics3_queries.cusum`` at per-EVENT granularity
    (each tick's move vs the previous close; the batch op runs on
    daily closes): O(1) integer state per type — the running cumsum
    and running min of both one-sided series — so the alarm decision
    is exact and the state never grows. Emits per-(type, micro-batch)
    alarm counts and the end-of-batch S± (dollars).

    Deterministic given the micro-batch sequence; equivalence against
    a pure-Python fold over the same batch boundaries is asserted in
    tests/test_streaming.py. A NULL price has no batch twin at this
    granularity: it counts in ``batch_n`` and makes no move (the next
    price moves against the last non-NULL one).
    """

    def fold(key: tuple, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        last_c, cp, mp, cn, mn, seq = (
            state.get if state.exists else (None, 0, 0, 0, 0, 0)
        )
        au = ad = 0
        sp = sn = 0
        for cents in pandas_cents(pdf["value"]).dropna().tolist():
            if last_c is None:
                last_c = cents
                continue
            x = cents - last_c
            last_c = cents
            cp += x - k
            mp = min(mp, cp)
            cn += -x - k
            mn = min(mn, cn)
            sp = cp - min(0, mp)
            sn = cn - min(0, mn)
            if sp > h:
                au += 1
            if sn > h:
                ad += 1
        state.update((last_c, cp, mp, cn, mn, seq + 1))
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "seq": [seq],
                "batch_n": [len(pdf)],
                "alarms_up": [au],
                "alarms_down": [ad],
                "s_up": [sp / 100.0],
                "s_down": [sn / 100.0],
            }
        )

    return _stateful(events, "event_type", fold, CUSUM_SCHEMA, CUSUM_STATE, "append")
