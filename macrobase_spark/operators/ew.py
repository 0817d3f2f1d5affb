"""The legacy MacroBase v0.x exponentially-weighted streaming runtime
(the SIGMOD'17 core), previously scoped out — now ported:

- AChao weighted reservoir with damped periods (legacy
  analysis/sample/AChao.java:22-103 + FlexibleDampedReservoir.java:9-35):
  insertion probability capacity*w/runningCount, overweight items parked
  in a priority queue until they fit, decay multiplies runningCount and
  parked weights. The RNG is a seeded numpy Generator (the reference
  seeds java.util.Random via conf — same determinism contract, different
  generator; documented divergence).
- Periodic (util/Periodic.java:5-40): tuple-based period triggers,
  `while (prev + len < numCalls) run`.
- AmortizedMaintenanceCounter (summary/count/
  AmortizedMaintenanceCounter.java:36-130): O(1) heavy-hitter updates —
  new items enter at prevEpochMaxEvicted + count (overreport), decay via
  a shared divisor, eviction keeps the maxStableSize largest at period
  marks.
- StreamingFPGrowth (summary/itemset/StreamingFPGrowth.java:18-746):
  rendered as a damped PROJECTION MULTISET instead of a mutating CPS
  tree. The tree stores each transaction's projection onto the items
  frequent at insert time (false-negative mode :404-437), decays all
  node counts, deletes items on reset (children merged upward =
  re-projection of stored transactions), and re-sorts — a freshly built
  FP-tree over the projection multiset is exactly the restructured tree,
  so the multiset IS the state; mining builds the tree on demand and
  runs the reference's mineItemsets (single-path powerset, conditional
  pattern bases with the insertConditionalFrequentItems support filter,
  cross product — :439-577). Divergences, documented: item order ties
  break canonically by item id (the reference sorts a HashMap iteration
  — JVM-dependent on ties); getSupport truncates the summed double once
  at the end (the Java `int count += double` compound assignment
  truncates per path in link order — :258-291).
- ExponentiallyDecayingEmergingItemsets (summary/itemset/
  ExponentiallyDecayingEmergingItemsets.java:27-246): damped AMC counts
  for in/outlier items, interesting-item reset of both pattern trees at
  period marks, corrected risk ratio (RiskRatio.java:11-49 — including
  the reference's unexposedInlier/unexposedInlier==1 term in the
  correction, mirrored bug-for-bug) with the superset/count dedup walk.
- EWFeatureTransform (transform/EWFeatureTransform.java:15-106): warmup
  buffering, periodic retrain of the scorer on the input reservoir,
  periodic reservoir decay.
- EWAppxPercentileOutlierClassifier (classify/
  EWAppxPercentileOutlierClassifier.java:18-120): score-norm reservoir,
  periodic threshold = sorted-norms[int(p*size)], flag norm > threshold.
- BasicOneShotEWStreamingPipeline (pipeline/
  BasicOneShotEWStreamingPipeline.java:27-85): transform → classifier →
  EWStreamingSummarizer (EWStreamingSummarizer.java:18-107), one summary
  at end-of-stream.

Spark shape: the runtime is a sequential per-stream state machine (the
reference is single-threaded by design), so the engine runs ONE state
machine per key with `keyed_fold`, on batch frames and streams alike —
the 100 TB story is millions of independent keyed streams, each with
O(reservoir + summary) state,
hash-partitioned by key; inside a key the segment between two period
boundaries is scored vectorized (the model and threshold are constant
there). The no-decay regime (periods and reservoirs >= stream length)
degenerates to a fully deterministic relational plan and is certified
by a complete SQL-replay oracle (`ew_summary_events`).
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.queries import register
from macrobase_spark.streaming.stateful import keyed_fold


# ---------------------------------------------------------------------------
# reservoirs and periods
# ---------------------------------------------------------------------------


class AChaoReservoir:
    """AChao.java:22-103 + FlexibleDampedReservoir.java:9-35."""

    def __init__(self, capacity: int, bias: float, seed: int = 0):
        assert 0 <= bias < 1
        self.capacity = capacity
        self.bias = bias
        self.rng = np.random.default_rng(seed)
        self.reservoir: list = []
        self.running_count = 0.0
        self._overweight: list = []  # heap of (weight, tiebreak, item)
        self._tie = 0

    def _update_overweight(self) -> None:
        # NOTE: re-inserting a parked item goes through insert() and bumps
        # running_count a SECOND time — exactly what the reference does
        # (AChao.java:54-62 polls then calls insert(item, weight), whose
        # first statement is runningCount += weight). Mirrored bug-for-bug.
        while self._overweight:
            w, _, item = self._overweight[0]
            if self.capacity * w / self.running_count <= 1:
                heapq.heappop(self._overweight)
                self.insert(item, w)
            else:
                break

    def insert(self, ele, weight: float = 1.0) -> None:
        self.running_count += weight
        self._update_overweight()
        if len(self.reservoir) < self.capacity:
            self.reservoir.append(ele)
        else:
            p = self.capacity * weight / self.running_count
            if p > 1:
                self._tie += 1
                heapq.heappush(self._overweight, (weight, self._tie, ele))
            elif self.rng.random() < p:
                self.reservoir[int(self.rng.integers(self.capacity))] = ele

    def advance_period(self, periods: int = 1) -> None:
        decay = (1 - self.bias) ** periods
        self.running_count *= decay
        self._overweight = [(w * decay, t, i) for w, t, i in self._overweight]
        heapq.heapify(self._overweight)

    def get(self) -> list:
        self._update_overweight()
        if self._overweight:
            ret = [i for _, _, i in self._overweight]
            rest = list(self.reservoir)
            self.rng.shuffle(rest)
            return ret + rest[: self.capacity - len(ret)]
        return list(self.reservoir)


class Periodic:
    """util/Periodic.java:5-40 (tuple-based)."""

    def __init__(self, period: float, task):
        self.period = period
        self.task = task
        self.prev = 0.0
        self.calls = 0

    def run_if_necessary(self) -> None:
        self.calls += 1
        if self.period < 0:
            return
        while self.prev + self.period < self.calls:
            self.task()
            self.prev += self.period


# ---------------------------------------------------------------------------
# AmortizedMaintenanceCounter
# ---------------------------------------------------------------------------


class AMCounter:
    """AmortizedMaintenanceCounter.java:36-130."""

    DECAY_RESET_THRESHOLD = 1.7976931348623157e308 * 0.5

    def __init__(self, max_stable_size: int):
        self.max_stable_size = max_stable_size
        self.decay_factor = 1.0
        self.counts: dict = {}
        self.total_count = 0.0
        self.prev_epoch_max_evicted = 0.0

    def _reset_decay(self) -> None:
        for k in self.counts:
            self.counts[k] = self.counts[k] / self.decay_factor
        self.total_count /= self.decay_factor
        self.decay_factor = 1.0

    def multiply_all_counts(self, by: float) -> None:
        self.decay_factor /= by
        if self.decay_factor > self.DECAY_RESET_THRESHOLD:
            self._reset_decay()
        if len(self.counts) > self.max_stable_size:
            ordered = sorted(self.counts.items(), key=lambda e: e[1])
            to_remove = len(self.counts) - self.max_stable_size
            self.prev_epoch_max_evicted = 4.9e-324  # Double.MIN_VALUE
            for k, v in ordered[:to_remove]:
                del self.counts[k]
                if v > self.prev_epoch_max_evicted:
                    self.prev_epoch_max_evicted = v

    def observe(self, item, count: float = 1.0) -> None:
        count *= self.decay_factor
        v = self.counts.get(item)
        if v is None:
            v = self.prev_epoch_max_evicted + count
            self.total_count += v
        else:
            v += count
            self.total_count += count
        self.counts[item] = v
        if v > self.DECAY_RESET_THRESHOLD and self.decay_factor > 1:
            self._reset_decay()

    def observe_all(self, items) -> None:
        for i in items:
            self.observe(i, 1.0)

    def get_counts(self) -> dict:
        self._reset_decay()
        return self.counts

    def get_total_count(self) -> float:
        return self.total_count / self.decay_factor

    def get_count(self, item) -> float:
        v = self.counts.get(item)
        if v is None:
            return self.prev_epoch_max_evicted / self.decay_factor
        return v / self.decay_factor


# ---------------------------------------------------------------------------
# StreamingFPGrowth as a damped projection multiset
# ---------------------------------------------------------------------------


class _Node:
    __slots__ = ("item", "count", "children", "parent")

    def __init__(self, item, parent):
        self.item = item
        self.count = 0.0
        self.children: dict = {}
        self.parent = parent


class StreamingFP:
    """StreamingFPGrowth.java — projection-multiset rendering (see module
    docstring for the equivalence argument and documented divergences)."""

    def __init__(self, support: float):
        self.support = support
        self.frequent: dict = {}  # frequentItemCounts
        self.txns: dict = {}  # frozenset(projection) -> damped count
        self.root_count = 0.0

    # --- insertion (insertTransaction :404-437) ---
    def insert_false_negative(self, txn) -> None:
        filtered = [i for i in txn if i in self.frequent]
        if filtered:
            for i in filtered:
                self.frequent[i] = self.frequent[i] + 1
            key = frozenset(filtered)
            self.txns[key] = self.txns.get(key, 0.0) + 1.0
            self.root_count += 1.0

    def insert_exact(self, txn) -> None:
        for i in txn:
            self.frequent[i] = self.frequent.get(i, 0.0) + 1.0
        filtered = [i for i in txn if i in self.frequent]
        if filtered:
            key = frozenset(filtered)
            self.txns[key] = self.txns.get(key, 0.0) + 1.0
            self.root_count += 1.0

    # --- decayAndResetFrequentItems :686-696 ---
    def decay_and_reset(self, new_frequent: dict, decay_rate: float) -> None:
        keep = set(new_frequent)
        self.frequent = dict(new_frequent)
        scale = (1 - decay_rate) if decay_rate > 0 else 1.0
        if decay_rate > 0:
            # decayWeights at root also scales frequentItemCounts (:66-78)
            self.frequent = {k: v * scale for k, v in self.frequent.items()}
            self.root_count *= scale
        new_txns: dict = {}
        for key, cnt in self.txns.items():
            cnt = cnt * scale
            nk = frozenset(i for i in key if i in keep)
            if nk:
                new_txns[nk] = new_txns.get(nk, 0.0) + cnt
        self.txns = new_txns

    # --- getCounts :698-708 (final-truncation divergence documented) ---
    def get_support(self, pattern) -> int:
        p = set(pattern)
        if any(i not in self.frequent for i in p):
            return 0
        total = 0.0
        for key, cnt in self.txns.items():
            if p <= key:
                total += cnt
        return int(total)

    # --- mining (mineItemsets :439-577 over the rebuilt tree) ---
    def _order(self) -> dict:
        ordered = sorted(self.frequent.items(), key=lambda e: (e[1], e[0]))
        return {k: i for i, (k, _) in enumerate(ordered)}

    def _build_tree(self) -> _Node:
        order = self._order()
        root = _Node(None, None)
        for key, cnt in self.txns.items():
            items = sorted(
                (i for i in key if i in self.frequent),
                key=lambda i: -order[i],
            )
            node = root
            node.count += cnt
            for it in items:
                child = node.children.get(it)
                if child is None:
                    child = _Node(it, node)
                    node.children[it] = child
                node = child
                node.count += cnt
        return root

    def get_itemsets(self) -> list:
        thr = int(self.root_count * self.support)
        root = self._build_tree()
        return _mine(root, self.frequent, thr)


def _powerset(items):
    items = list(items)
    for mask in range(1, 1 << len(items)):
        yield [items[i] for i in range(len(items)) if mask >> i & 1]


def _mine(root: _Node, frequent_counts: dict, thr: float) -> list:
    """mineItemsets :439-577 — returns [(set(items), count)]."""
    single_path_nodes = []
    cur = root
    node_of_branching = None
    while True:
        if cur.count < thr:
            break
        if len(cur.children) > 1:
            node_of_branching = cur
            break
        if cur is not root:
            single_path_nodes.append(cur)
        if not cur.children:
            break
        cur = next(iter(cur.children.values()))
    single_path = []
    for subset in _powerset(single_path_nodes):
        items = {n.item for n in subset}
        min_support = min(n.count for n in subset)
        single_path.append((items, min_support))
    if node_of_branching is None:
        return single_path

    already = {n.item for n in single_path_nodes}
    # node headers: collect nodes per item (canonical item order for
    # deterministic output; the reference iterates a HashMap)
    headers: dict = {}

    def collect(n):
        for c in n.children.values():
            headers.setdefault(c.item, []).append(c)
            collect(c)

    collect(root)
    branching = []
    for item in sorted(headers):
        if item in already or frequent_counts.get(item, 0.0) < thr:
            continue
        branching.append(({item}, frequent_counts[item]))
        base = []
        for node in headers[item]:
            leaf_support = node.count
            pattern = set()
            walk = node.parent
            while walk is not node_of_branching.parent and walk is not root:
                pattern.add(walk.item)
                walk = walk.parent
            if pattern:
                base.append((pattern, leaf_support))
        if not base:
            continue
        # conditional tree: insertConditionalFrequentItems (:364-381) sums
        # pattern counts per item and keeps >= thr, then conditional
        # patterns are reinserted and mined recursively
        cond_counts: dict = {}
        for pat, cnt in base:
            for i in pat:
                cond_counts[i] = cond_counts.get(i, 0.0) + cnt
        cond_frequent = {i: c for i, c in cond_counts.items() if c >= thr}
        order = {
            k: idx
            for idx, (k, _) in enumerate(
                sorted(cond_frequent.items(), key=lambda e: (e[1], e[0]))
            )
        }
        cond_root = _Node(None, None)
        for pat, cnt in base:
            items = sorted(
                (i for i in pat if i in cond_frequent), key=lambda i: -order[i]
            )
            node = cond_root
            node.count += cnt
            for it in items:
                child = node.children.get(it)
                if child is None:
                    child = _Node(it, node)
                    node.children[it] = child
                node = child
                node.count += cnt
        cond_sets = _mine(cond_root, cond_frequent, thr)
        for items, cnt in cond_sets:
            items.add(item)
        branching.extend(cond_sets)

    if not single_path:
        return branching
    ret = list(single_path) + list(branching)
    for i_items, i_cnt in single_path:
        for j_items, j_cnt in branching:
            ret.append((set(i_items) | set(j_items), min(i_cnt, j_cnt)))
    return ret


# ---------------------------------------------------------------------------
# corrected risk ratio (legacy RiskRatio.java:11-49)
# ---------------------------------------------------------------------------


def corrected_risk_ratio(
    exposed_inlier: float, exposed_outlier: float, total_in: float, total_out: float
) -> tuple:
    """Returns (risk_ratio, corrected = rr - z*sqrt(...)); the correction's
    second term divides unexposedInlierCount by ITSELF (== 1) — the
    reference's own expression, mirrored (RiskRatio.java:41-45)."""
    total_exposed = exposed_inlier + exposed_outlier
    total_minus = total_in + total_out - total_exposed
    unexposed_out = total_out - exposed_outlier
    if total_exposed == 0 or exposed_outlier == 0 or total_minus == 0:
        return 0.0, 0.0
    if unexposed_out == 0:
        return float("inf"), float("inf")
    correction = 2.0 * math.sqrt(
        (exposed_inlier / exposed_outlier) / total_exposed + 1.0 / total_minus
    )
    rr = (exposed_outlier / total_exposed) / (unexposed_out / total_minus)
    return rr, rr - correction


# ---------------------------------------------------------------------------
# ExponentiallyDecayingEmergingItemsets
# ---------------------------------------------------------------------------


class DecayingEmergingItemsets:
    """ExponentiallyDecayingEmergingItemsets.java:27-246."""

    def __init__(
        self,
        inlier_summary_size: int,
        outlier_summary_size: int,
        min_support_outlier: float,
        min_ratio: float,
        decay_rate: float,
        attribute_dimension: int,
        combinations_enabled: bool = True,
    ):
        self.min_support_outlier = min_support_outlier
        self.min_ratio = min_ratio
        self.decay = decay_rate
        self.dim = attribute_dimension
        self.combinations = combinations_enabled
        self.num_inliers = 0.0
        self.num_outliers = 0.0
        self.out_counts = AMCounter(outlier_summary_size)
        self.in_counts = AMCounter(inlier_summary_size)
        self.out_patterns = StreamingFP(min_support_outlier)
        self.in_patterns = StreamingFP(0.0)

    def _update_models(self, do_decay: bool) -> None:
        if not self.combinations or self.dim == 1:
            return
        ocounts = self.out_counts.get_counts()
        icounts = self.in_counts.get_counts()
        required = int(self.out_counts.get_total_count() * self.min_support_outlier)
        interesting = {}
        for item, ocnt in ocounts.items():
            if ocnt < required:
                continue
            icnt = icounts.get(item)
            if icnt is not None:
                rr, _ = corrected_risk_ratio(
                    icnt, ocnt, self.in_counts.get_total_count(),
                    self.out_counts.get_total_count(),
                )
                if rr < self.min_ratio:
                    continue
            interesting[item] = ocnt
        self.out_patterns.decay_and_reset(interesting, self.decay if do_decay else 0)
        self.in_patterns.decay_and_reset(interesting, self.decay if do_decay else 0)

    def mark_period(self) -> None:
        self.out_counts.multiply_all_counts(1 - self.decay)
        self.in_counts.multiply_all_counts(1 - self.decay)
        self._update_models(True)

    def mark_outlier(self, attributes) -> None:
        self.num_outliers += 1
        self.out_counts.observe_all(attributes)
        # the reference's own (inverted-looking) gate — tree insertion when
        # combinations are DISABLED is a no-op because `frequent` stays
        # empty (ExponentiallyDecayingEmergingItemsets.java:137,146)
        if not self.combinations or self.dim > 1:
            self.out_patterns.insert_false_negative(attributes)

    def mark_inlier(self, attributes) -> None:
        self.num_inliers += 1
        self.in_counts.observe_all(attributes)
        if not self.combinations or self.dim > 1:
            self.in_patterns.insert_false_negative(attributes)

    def _single_item_itemsets(self) -> list:
        required = self.out_counts.get_total_count() * self.min_support_outlier
        icounts = self.in_counts.get_counts()
        ret = []
        for item, ocnt in sorted(self.out_counts.get_counts().items()):
            if ocnt < required:
                continue
            _, corrected = corrected_risk_ratio(
                icounts.get(item, 0.0) if icounts.get(item) is not None else 0.0,
                ocnt,
                self.in_counts.get_total_count(),
                self.out_counts.get_total_count(),
            )
            if corrected > self.min_ratio:
                ret.append(
                    (
                        ocnt / self.out_counts.get_total_count(),
                        ocnt,
                        corrected,
                        frozenset([item]),
                    )
                )
        return ret

    def get_itemsets(self) -> list:
        """[(support, count, corrected_ratio, frozenset(items))], the
        reference's final ordering (count desc, size desc)."""
        ret = self._single_item_itemsets()
        if not self.combinations or self.dim == 1:
            return sorted(ret, key=lambda r: (-r[1], -len(r[3])))
        iwc = self.out_patterns.get_itemsets()
        iwc.sort(key=lambda ic: (-ic[1], -len(ic[0])))
        to_check = []
        prev_set, prev_count = None, -1.0
        for items, cnt in iwc:
            if cnt == prev_count and prev_set is not None and items <= prev_set:
                continue
            prev_count, prev_set = cnt, items
            if len(items) != 1:
                to_check.append((items, cnt))
        for items, ocnt in to_check:
            icnt = self.in_patterns.get_support(items)
            _, corrected = corrected_risk_ratio(
                icnt, ocnt,
                self.in_counts.get_total_count(),
                self.out_counts.get_total_count(),
            )
            if corrected >= self.min_ratio:
                ret.append(
                    (
                        ocnt / self.out_counts.get_total_count(),
                        ocnt,
                        corrected,
                        frozenset(items),
                    )
                )
        return sorted(ret, key=lambda r: (-r[1], -len(r[3])))


# ---------------------------------------------------------------------------
# EW transform + classifier + one-shot pipeline core
# ---------------------------------------------------------------------------


def _fit_mad(vals: np.ndarray) -> tuple:
    """legacy stats/MAD.java:38-97 (same math the contextual port pins)."""
    m = np.sort(np.asarray(vals, dtype=float))
    n = len(m)
    med = (m[n // 2 - 1] + m[n // 2]) / 2 if n % 2 == 0 else m[n // 2]
    r = np.sort(np.abs(m - med))
    mad = (r[n // 2 - 1] + r[n // 2]) / 2 if n % 2 == 0 else r[n // 2]
    if mad == 0:
        lo, hi = int(n * 0.05), int(n * 0.95)
        mad = float(np.mean(r[lo:hi]))
    return float(med), float(mad)


@dataclass
class EWParams:
    """Reference conf keys with MacroBaseDefaults.java:11-31 defaults."""

    warmup_count: int = 10000
    input_reservoir_size: int = 10000
    score_reservoir_size: int = 10000
    model_update_period: float = 100000.0
    summary_update_period: float = 100000.0
    decay_rate: float = 0.01
    target_percentile: float = 0.99
    min_support: float = 0.001
    min_oi_ratio: float = 3.0
    inlier_summary_size: int = 100000
    outlier_summary_size: int = 100000
    attribute_combinations: bool = True
    seed: int = 0


class EWStreamingRuntime:
    """The one-shot pipeline's operator chain as a resumable state machine:
    EWFeatureTransform → EWAppxPercentileOutlierClassifier →
    EWStreamingSummarizer, consumed tuple-by-tuple."""

    def __init__(self, params: EWParams, attribute_dimension: int):
        p = self.p = params
        self.in_reservoir = AChaoReservoir(
            p.input_reservoir_size, p.decay_rate, p.seed
        )
        self.score_reservoir = AChaoReservoir(
            p.score_reservoir_size, p.decay_rate, p.seed + 1
        )
        self.model: tuple | None = None  # (median, MAD)
        self.threshold = 0.0
        self.summary = DecayingEmergingItemsets(
            p.inlier_summary_size,
            p.outlier_summary_size,
            p.min_support,
            p.min_oi_ratio,
            p.decay_rate,
            attribute_dimension,
            p.attribute_combinations,
        )
        self.tuples = 0
        self._warmup_metrics: list = []
        self._warmup_attrs: list = []
        self._cls_warmup: list = []  # (score, attrs) buffered in classifier
        self._cls_tuples = 0
        self._sum_tuples = 0
        # periodics (tuple-based)
        self._retrain = Periodic(p.model_update_period, self._do_retrain)
        self._decay_in = Periodic(
            p.model_update_period, self.in_reservoir.advance_period
        )
        self._thresh_update = Periodic(p.summary_update_period, self._do_threshold)
        self._decay_score = Periodic(
            p.summary_update_period, self.score_reservoir.advance_period
        )
        self._mark_period = Periodic(
            p.summary_update_period, self.summary.mark_period
        )
        self.flags: list = []
        self.scores: list = []

    def _do_retrain(self) -> None:
        res = self.in_reservoir.get()
        if res:
            self.model = _fit_mad(np.array(res))

    def _score(self, v: float) -> float:
        med, mad = self.model
        return abs(v - med) / mad

    def _do_threshold(self) -> None:
        res = self.score_reservoir.get()
        if res:
            norms = sorted(res)
            self.threshold = norms[int(self.p.target_percentile * len(norms))]

    # ---- classifier stage (per scored tuple) ----
    def _classify(self, score: float, attrs) -> None:
        self._cls_tuples += 1
        if self._cls_tuples < self.p.warmup_count:
            self._cls_warmup.append((score, attrs))
            self.score_reservoir.insert(abs(score))
            self._decay_score.run_if_necessary()
            self._thresh_update.run_if_necessary()
            return
        if self._cls_tuples == self.p.warmup_count:
            self._do_threshold()
            for s, a in self._cls_warmup:
                # the reference flags the warmup batch with the CURRENT
                # datum's norm (EWAppxPercentileOutlierClassifier.java:
                # 104-108 uses d, not di — mirrored)
                self._summarize(abs(score) > self.threshold, a, s)
            self._cls_warmup.clear()
        # NOTE: the reference classifier runs its periodics ONLY during
        # warmup (consume:93-113) — post-warmup the threshold is frozen
        # and the score reservoir never decays. Mirrored.
        n = abs(score)
        self.score_reservoir.insert(n)
        self._summarize(n > self.threshold, attrs, score)

    # ---- summarizer stage ----
    def _summarize(self, is_outlier: bool, attrs, score: float) -> None:
        self._sum_tuples += 1
        self._mark_period.run_if_necessary()
        if is_outlier:
            self.summary.mark_outlier(attrs)
        else:
            self.summary.mark_inlier(attrs)
        self.flags.append(1 if is_outlier else 0)
        self.scores.append(score)

    # ---- transform stage (per raw tuple) ----
    def consume(self, metrics: np.ndarray, attr_rows: list) -> None:
        for v, attrs in zip(metrics, attr_rows):
            self.tuples += 1
            if self.tuples < self.p.warmup_count:
                self._warmup_metrics.append(float(v))
                self._warmup_attrs.append(attrs)
                self.in_reservoir.insert(float(v))
                self._retrain.run_if_necessary()
                self._decay_in.run_if_necessary()
            else:
                if self.tuples == self.p.warmup_count:
                    self._do_retrain()
                    for wv, wa in zip(self._warmup_metrics, self._warmup_attrs):
                        self._classify(self._score(wv), wa)
                    self._warmup_metrics.clear()
                    self._warmup_attrs.clear()
                self._retrain.run_if_necessary()
                self._decay_in.run_if_necessary()
                self.in_reservoir.insert(float(v))
                self._classify(self._score(float(v)), attrs)

    def run(self, metrics: np.ndarray, attr_rows: list) -> dict:
        """One-shot: consume the whole stream, return summary + flags."""
        self.consume(metrics, attr_rows)
        return {
            "itemsets": self.summary.get_itemsets(),
            "num_outliers": self.summary.num_outliers,
            "num_inliers": self.summary.num_inliers,
            "flags": self.flags,
            "scores": self.scores,
        }


# ---------------------------------------------------------------------------
# Spark faces
# ---------------------------------------------------------------------------


def _ew_fold(df, metric_col, attributes, order_col, params, key_cols, emit, schema):
    """One EWStreamingRuntime per key over rows in `order_col` order,
    resumed every micro-batch on a stream — the reference's
    consume(batch)-at-a-time loop (BasicOneShotEWStreamingPipeline.java:
    62-64). `emit(rt, ords, flags, scores)` turns a step into output rows:
    `flags`/`scores` are the classifications the step made and `ords`
    their ordinals. Classified output lags the input while the warmups
    buffer (a key shorter than warmup_count classifies nothing, like the
    reference's one-shot run), so flags pair with the OLDEST unclassified
    ordinals."""
    params = params or EWParams()
    keys = list(key_cols or [])
    sel = df.select(
        *keys,
        F.col(order_col).cast("long").alias("__ord"),
        F.col(metric_col).cast("double").alias("__m"),
        *[F.col(a).cast("string").alias(a) for a in attributes if a not in keys],
    )

    def step(st, key, pdf):
        rt, ords = st
        attr_rows = [
            [f"{a}={v}" for a, v in zip(attributes, row)]
            for row in pdf[attributes].itertuples(index=False, name=None)
        ]
        ords.extend(pdf["__ord"].tolist())
        rt.consume(pdf["__m"].to_numpy(dtype=float), attr_rows)
        flags, scores = rt.flags, rt.scores
        rt.flags, rt.scores = [], []  # taken off the runtime: state stays bounded
        out = emit(rt, ords[: len(flags)], flags, scores)
        for i, k in reversed(list(enumerate(keys))):
            out.insert(0, k, str(key[i]))
        return (rt, ords[len(flags) :]), out

    return keyed_fold(
        sel,
        keys,
        ["__ord"],
        lambda: (EWStreamingRuntime(params, len(attributes)), []),
        step,
        "".join(f"`{k}` string, " for k in keys) + schema,
    )


def ew_streaming_summarize(
    df: DataFrame,
    metric_col: str,
    attributes: list,
    order_col: str,
    params: EWParams | None = None,
    key_cols: list | None = None,
) -> DataFrame:
    """Run the one-shot EW pipeline per key (one sequential state machine
    per key, hash-partitioned — the keyed scale path; omit key_cols for
    the reference's single global stream). Output: one row per summary
    itemset (key cols..., items string 'attr=value,...', support, count,
    ratio, num_outliers, num_inliers) — at the end of each key's series
    on a batch frame, after every micro-batch on a stream."""

    def emit(rt, ords, flags, scores):
        rows = [
            (
                ",".join(sorted(items)),
                float(support),
                float(cnt),
                float(ratio),
                rt.summary.num_outliers,
                rt.summary.num_inliers,
            )
            for support, cnt, ratio, items in rt.summary.get_itemsets()
        ]
        cols = ["items", "support", "count", "ratio", "num_outliers", "num_inliers"]
        return pd.DataFrame(rows, columns=cols)

    return _ew_fold(
        df, metric_col, attributes, order_col, params, key_cols, emit,
        "items string, support double, count double, ratio double, "
        "num_outliers double, num_inliers double",
    )


def ew_classify_flags(
    df: DataFrame,
    metric_col: str,
    attributes: list,
    order_col: str,
    params: EWParams | None = None,
    key_cols: list | None = None,
) -> DataFrame:
    """Per-tuple EW outlier flags + scores (the transform+classifier
    stages), one state machine per key; batch frame or stream (stream ==
    batch for in-order arrival within a key). Emits (keys..., __ord,
    score, outlier)."""

    def emit(rt, ords, flags, scores):
        return pd.DataFrame(
            {
                "__ord": np.array(ords, dtype=np.int64),
                "score": np.array(scores, dtype=float),
                "outlier": np.array(flags, dtype="int32"),
            }
        )

    return _ew_fold(
        df, metric_col, attributes, order_col, params, key_cols, emit,
        "__ord long, score double, outlier int",
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

_EW_W = 2000  # warmup
_EW_P = 0.99  # target percentile
_EW_SUP = 0.02  # min support
_EW_RATIO = 0.0  # min corrected OI ratio

# The no-decay regime (reservoirs >= N, periods > N) is fully
# deterministic: MAD trained once on the first W-1 rows, threshold frozen
# at the warmup boundary (sorted-scores[int(p*(W-1))]), the warmup block
# flagged with the W-th row's comparison (the reference's d-vs-di bug,
# EWAppxPercentileOutlierClassifier.java:104-108), then exact attribute
# counts and the corrected risk ratio. Replayed fully in SQL.
_EW_ORACLE = f"""
WITH ordered AS (
  SELECT event_id, value, event_type,
         CAST(user_id % 4 AS VARCHAR) AS ub,
         ROW_NUMBER() OVER (ORDER BY event_id) AS rn
  FROM events
),
warm AS (SELECT value FROM ordered WHERE rn < {_EW_W}),
model AS (
  SELECT med, (SELECT QUANTILE_CONT(ABS(value - med), 0.5) FROM warm) AS mad
  FROM (SELECT QUANTILE_CONT(value, 0.5) AS med FROM warm)
),
scored AS (
  SELECT o.*, ABS(o.value - m.med) / m.mad AS score
  FROM ordered o, model m
),
thresh AS (
  SELECT score AS t FROM (
    SELECT score, ROW_NUMBER() OVER (ORDER BY score) AS sr
    FROM scored WHERE rn < {_EW_W}
  ) WHERE sr - 1 = CAST(FLOOR({_EW_P} * ({_EW_W} - 1)) AS INT)
),
flagged AS (
  SELECT s.*,
         CASE WHEN s.rn < {_EW_W}
              THEN CASE WHEN (SELECT score FROM scored WHERE rn = {_EW_W})
                             > (SELECT t FROM thresh) THEN 1 ELSE 0 END
              ELSE CASE WHEN s.score > (SELECT t FROM thresh) THEN 1 ELSE 0
                   END
         END AS outlier
  FROM scored s
),
items AS (
  SELECT 'event_type=' || event_type AS item, outlier FROM flagged
  UNION ALL
  SELECT 'ub=' || ub, outlier FROM flagged
),
tot AS (
  SELECT CAST(SUM(outlier) AS DOUBLE) AS o_rows,
         CAST(SUM(1 - outlier) AS DOUBLE) AS i_rows,
         CAST(2 * SUM(outlier) AS DOUBLE) AS o_tot,
         CAST(2 * SUM(1 - outlier) AS DOUBLE) AS i_tot
  FROM flagged
),
cnt AS (
  SELECT item,
         CAST(SUM(outlier) AS DOUBLE) AS ocnt,
         CAST(SUM(1 - outlier) AS DOUBLE) AS icnt
  FROM items GROUP BY item
),
rr AS (
  SELECT c.item, c.ocnt, c.icnt, t.o_tot, t.i_tot, t.o_rows, t.i_rows,
         ((c.ocnt / (c.icnt + c.ocnt)) /
          ((t.o_tot - c.ocnt) / (t.i_tot + t.o_tot - c.icnt - c.ocnt)))
         - 2.0 * SQRT((c.icnt / c.ocnt) / (c.icnt + c.ocnt)
                      + 1.0 / (t.i_tot + t.o_tot - c.icnt - c.ocnt))
           AS corrected
  FROM cnt c, tot t
  WHERE c.ocnt >= t.o_tot * {_EW_SUP}
    AND c.ocnt > 0 AND (t.o_tot - c.ocnt) > 0
    AND (t.i_tot + t.o_tot - c.icnt - c.ocnt) > 0
)
SELECT item AS items,
       ROUND(ocnt / o_tot, 6) AS support,
       ocnt AS count,
       ROUND(corrected, 6) AS ratio,
       o_rows AS num_outliers,
       i_rows AS num_inliers
FROM rr
WHERE corrected > {_EW_RATIO}
ORDER BY items
"""


@register("ew_summary_events", _EW_ORACLE)
def ew_summary_events(spark, sf_dir: str) -> DataFrame:
    """The legacy EW streaming pipeline (BasicOneShotEWStreamingPipeline)
    over events in event_id order, in its deterministic no-decay regime —
    the oracle replays the warmup MAD fit, the frozen warmup threshold
    (including the reference's warmup-flag bug), the attribute counts and
    the corrected risk ratio entirely in SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ub", (F.col("user_id") % 4).cast("string")
    )
    n = ev.count()
    params = EWParams(
        warmup_count=_EW_W,
        input_reservoir_size=max(2 * n, 20000),
        score_reservoir_size=max(2 * n, 20000),
        model_update_period=1e12,
        summary_update_period=1e12,
        target_percentile=_EW_P,
        min_support=_EW_SUP,
        min_oi_ratio=_EW_RATIO,
    )
    res = ew_streaming_summarize(
        ev, "value", ["event_type", "ub"], "event_id", params
    )
    return res.select(
        F.col("items"),
        F.round("support", 6).alias("support"),
        F.col("count"),
        F.round("ratio", 6).alias("ratio"),
        F.col("num_outliers"),
        F.col("num_inliers"),
    )


@register("ew_flags_keyed_events")
def ew_flags_keyed_events(spark, sf_dir: str) -> DataFrame:
    """Keyed EW flag streams (one damped state machine per event_type —
    the 100 TB shape: hash-partitioned independent streams with decay and
    periodic retrain live). Rows-only driver check: the damped reservoir
    path is sampling-based and not SQL-expressible; stream==batch and
    component-level tests pin it instead."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    params = EWParams(
        warmup_count=200,
        input_reservoir_size=500,
        score_reservoir_size=500,
        model_update_period=400,
        summary_update_period=400,
        decay_rate=0.01,
        target_percentile=0.95,
    )
    flags = ew_classify_flags(
        ev, "value", ["event_type"], "event_id", params, key_cols=["event_type"]
    )
    return flags.groupBy("event_type").agg(
        F.sum("outlier").cast("long").alias("n_outliers"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    )
