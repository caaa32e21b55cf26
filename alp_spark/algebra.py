"""Operators, monoids and semirings as Column-expression builders.

Reference parity (all /root/reference/include/graphblas/):
- binary operators: ops.hpp:58-801 (27 operators; see SURVEY.md §2.1)
- monoid = operator + identity: monoid.hpp:54-82
- semiring = additive commutative monoid ⊕ + multiplicative monoid ⊗,
  with Zero/One identities: semiring.hpp:186-245
- identities: identities.hpp:57-192

In Spark the *scalar* operator is a ``Column × Column → Column`` function
(JVM-side, whole-stage-codegen'd); the monoid additionally carries the
aggregate form (``F.sum``/``F.max``/…) used at every groupBy reduction so
map-side partial aggregation applies — the analog of ALP's thread-local
``asyncAssign``/``joinUpdate`` merges (reference/coordinates.hpp:67).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

BinOp = Callable[[Column, Column], Column]
AggFn = Callable[[Column], Column]


@dataclass(frozen=True)
class Monoid:
    """Commutative-associative operator + identity (monoid.hpp:54-82)."""

    op: BinOp  # elementwise combine
    agg: AggFn  # grouped reduction with the same semantics
    identity: object  # python literal for the identity element

    def lit_identity(self) -> Column:
        if isinstance(self.identity, tuple):  # pair monoids (argmin/argmax)
            return F.struct(
                F.lit(self.identity[0]).alias("val"),
                F.lit(self.identity[1]).alias("idx"),
            )
        return F.lit(self.identity)


@dataclass(frozen=True)
class Semiring:
    """⊕-monoid + ⊗-operator with One (semiring.hpp:186-245)."""

    add: Monoid
    mul: BinOp
    one: object  # multiplicative identity

    @property
    def zero(self) -> object:
        return self.add.identity


# --- scalar binary operators (ops.hpp:58-801 → Spark Column exprs) -----------

def left_assign(x: Column, y: Column) -> Column:  # ops.hpp:58
    return x


def right_assign(x: Column, y: Column) -> Column:  # ops.hpp:115
    return y


def left_assign_if(x: Column, cond: Column) -> Column:  # ops.hpp:85
    return F.when(cond.cast("boolean"), x)


def right_assign_if(cond: Column, y: Column) -> Column:  # ops.hpp:141
    return F.when(cond.cast("boolean"), y)


def add(x, y):  # ops.hpp:175
    return x + y


def mul(x, y):  # ops.hpp:208
    return x * y


def max_(x, y):  # ops.hpp:241
    return F.greatest(x, y)


def min_(x, y):  # ops.hpp:274
    return F.least(x, y)


def subtract(x, y):  # ops.hpp:301
    return x - y


def divide(x, y):  # ops.hpp:328
    return x / y


def divide_reverse(x, y):  # ops.hpp:353
    return y / x


def equal(x, y):  # ops.hpp:379
    return x == y


def not_equal(x, y):  # ops.hpp:405
    return x != y


def any_or(x, y):  # ops.hpp:434 — "pick either operand"
    return F.coalesce(x, y)


def logical_or(x, y):  # ops.hpp:462
    return x.cast("boolean") | y.cast("boolean")


def logical_and(x, y):  # ops.hpp:490
    return x.cast("boolean") & y.cast("boolean")


def relu(x, y):  # ops.hpp:514 — max(x, y) with y acting as threshold/zero
    return F.greatest(x, y)


def abs_diff(x, y):  # ops.hpp:541 (PageRank residual, simple_pagerank.hpp:436)
    return F.abs(x - y)


def square_diff(x, y):  # ops.hpp:623
    return (x - y) * (x - y)


def zip_op(x, y):  # ops.hpp:649
    return F.struct(x.alias("first"), y.alias("second"))


def equal_first(x, y):  # ops.hpp:678
    return F.when(x == y, x)


def less_than(x, y):  # ops.hpp:707
    return x < y


def leq(x, y):  # ops.hpp:736
    return x <= y


def greater_than(x, y):  # ops.hpp:765
    return x > y


def geq(x, y):  # ops.hpp:794
    return x >= y


# argmin/argmax (ops.hpp:573/600) operate on (value, index) pairs; in
# Spark a struct(val, idx) column compares lexicographically, so the
# pairwise op is least/greatest over structs and the grouped reduction
# is F.min/F.max over the same struct — with the index as deterministic
# tiebreak. The direct keyed forms (SURVEY §2.1's F.min_by/F.max_by
# mapping) are exposed as aggregate helpers below.

def argmin_op(x: Column, y: Column) -> Column:  # ops.hpp:573
    """x, y are struct(val, idx); returns the pair with the smaller val
    (smaller idx on ties)."""
    return F.least(x, y)


def argmax_op(x: Column, y: Column) -> Column:  # ops.hpp:600
    return F.greatest(x, y)


def pair(val: Column, idx: Column) -> Column:
    """Build the (val, idx) operand argmin/argmax reduce over."""
    return F.struct(val.alias("val"), idx.alias("idx"))


# --- standard monoids --------------------------------------------------------

PLUS = Monoid(op=add, agg=F.sum, identity=0.0)
TIMES = Monoid(op=mul, agg=F.product, identity=1.0)
MIN = Monoid(op=min_, agg=F.min, identity=math.inf)
MAX = Monoid(op=max_, agg=F.max, identity=-math.inf)
MIN_LONG = Monoid(op=min_, agg=F.min, identity=(1 << 62))
MAX_LONG = Monoid(op=max_, agg=F.max, identity=-(1 << 62))
LOR = Monoid(op=logical_or, agg=lambda c: F.max(c.cast("boolean")), identity=False)
ANY = Monoid(op=any_or, agg=lambda c: F.first(c, ignorenulls=True), identity=None)
# argmin/argmax monoids reduce struct(val, idx) pairs; the identity pair
# is a Column, not a python literal — use lit_identity(). The identity's
# idx component must LOSE val-ties against any real entry: min/least
# break val-ties toward the smaller idx (so ARGMIN's identity idx is the
# max id), greatest/max toward the larger idx (so ARGMAX's is the min).
ARGMIN = Monoid(op=argmin_op, agg=F.min, identity=(math.inf, (1 << 62)))
ARGMAX = Monoid(op=argmax_op, agg=F.max, identity=(-math.inf, -(1 << 62)))


# --- semirings used by the shipped algorithms (SURVEY.md §1.4) ---------------

# plus-times over reals (simple_pagerank.hpp:150-153, label.hpp:130-133)
PLUS_TIMES = Semiring(add=PLUS, mul=mul, one=1.0)

# (plus, left/right_assign_if) "pattern rings" for row sums / degrees
# (simple_pagerank.hpp:210-215; interfaces/pregel.hpp:381-386): a pattern
# matrix contributes the *vector* value (or 1) per nonzero.
PLUS_FIRST = Semiring(add=PLUS, mul=left_assign, one=1.0)

# (or, and) boolean reachability (knn.hpp:88-92)
OR_AND = Semiring(add=LOR, mul=logical_and, one=True)

# (min, plus) shortest path (examples/sp.cpp:104-107)
MIN_PLUS = Semiring(add=MIN, mul=add, one=0.0)
