"""PFSA model type, Spark schema, and the %-sectioned text codec.

A PFSA is the quadruple (Q, Sigma, delta, pitilde) — reference definition
``tex/ms.tex:76-79``.  We store it as two dense arrays:

- ``pitilde`` : |Q| x |Sigma| row-stochastic observation matrix
- ``connx``   : |Q| x |Sigma| integer transition targets (delta)

plus the metadata fields the reference persists in its automaton text
format (``patternly/detection.py:502-547``): ann_err, mrg_eps, syn_str,
sym_frq.

At engine level a *library* of PFSAs is a tiny DataFrame (one row per
model, nested arrays) that gets broadcast to executors for scoring; the
text format is kept as an import/export codec only (SURVEY §2.1 S3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Row, SparkSession
from pyspark.sql import types as T


PFSA_SCHEMA = T.StructType(
    [
        T.StructField("pfsa_id", T.IntegerType(), False),
        T.StructField("ann_err", T.DoubleType(), True),
        T.StructField("mrg_eps", T.DoubleType(), True),
        T.StructField("syn_str", T.ArrayType(T.IntegerType()), True),
        T.StructField("sym_frq", T.ArrayType(T.DoubleType()), True),
        T.StructField("pitilde", T.ArrayType(T.ArrayType(T.DoubleType())), False),
        T.StructField("connx", T.ArrayType(T.ArrayType(T.IntegerType())), False),
    ]
)


@dataclass
class PFSA:
    """In-memory PFSA; numpy-backed for the numeric kernels."""

    pitilde: np.ndarray  # (|Q|, |Sigma|) float64, row-stochastic
    connx: np.ndarray  # (|Q|, |Sigma|) int32
    pfsa_id: int = 0
    ann_err: float | None = None
    mrg_eps: float | None = None
    syn_str: list[int] | None = None
    sym_frq: np.ndarray | None = None
    _stationary: np.ndarray | None = field(default=None, repr=False, compare=False)

    def __post_init__(self) -> None:
        self.pitilde = np.asarray(self.pitilde, dtype=np.float64)
        self.connx = np.asarray(self.connx, dtype=np.int32)
        if self.pitilde.shape != self.connx.shape:
            raise ValueError(f"pitilde {self.pitilde.shape} != connx {self.connx.shape}")
        if self.sym_frq is not None:
            self.sym_frq = np.asarray(self.sym_frq, dtype=np.float64)

    @property
    def n_states(self) -> int:
        return self.pitilde.shape[0]

    @property
    def alphabet_size(self) -> int:
        return self.pitilde.shape[1]

    def transition_matrix(self) -> np.ndarray:
        """|Q| x |Q| row-stochastic Pi: pi(q,q') = sum_{sigma: delta(q,sigma)=q'} pitilde(q,sigma)."""
        n = self.n_states
        pi = np.zeros((n, n))
        for q in range(n):
            for s in range(self.alphabet_size):
                pi[q, self.connx[q, s]] += self.pitilde[q, s]
        return pi

    def stationary(self) -> np.ndarray:
        """Stationary distribution p with p^T Pi = p^T (left eigenvector of
        eigenvalue 1).  Computed by power iteration (robust, deterministic;
        the graph is strongly connected by construction)."""
        if self._stationary is None:
            pi = self.transition_matrix()
            p = np.full(self.n_states, 1.0 / self.n_states)
            for _ in range(10_000):
                p_new = p @ pi
                if np.max(np.abs(p_new - p)) < 1e-14:
                    p = p_new
                    break
                p = p_new
            self._stationary = p / p.sum()
        return self._stationary

    # ---- Spark row conversion -------------------------------------------
    def to_row(self) -> Row:
        return Row(
            pfsa_id=int(self.pfsa_id),
            ann_err=None if self.ann_err is None else float(self.ann_err),
            mrg_eps=None if self.mrg_eps is None else float(self.mrg_eps),
            syn_str=None if self.syn_str is None else [int(v) for v in self.syn_str],
            sym_frq=None if self.sym_frq is None else [float(v) for v in self.sym_frq],
            pitilde=[[float(v) for v in row] for row in self.pitilde],
            connx=[[int(v) for v in row] for row in self.connx],
        )

    @classmethod
    def from_row(cls, row) -> "PFSA":
        return cls(
            pitilde=np.array(row["pitilde"], dtype=np.float64),
            connx=np.array(row["connx"], dtype=np.int32),
            pfsa_id=int(row["pfsa_id"]),
            ann_err=row["ann_err"],
            mrg_eps=row["mrg_eps"],
            syn_str=list(row["syn_str"]) if row["syn_str"] is not None else None,
            sym_frq=np.array(row["sym_frq"]) if row["sym_frq"] is not None else None,
        )

    # ---- plain-dict conversion (for broadcast / pandas UDF closures) ----
    def to_dict(self) -> dict:
        return {
            "pfsa_id": int(self.pfsa_id),
            "pitilde": self.pitilde.tolist(),
            "connx": self.connx.tolist(),
            "ann_err": self.ann_err,
            "mrg_eps": self.mrg_eps,
            "syn_str": self.syn_str,
            "sym_frq": None if self.sym_frq is None else self.sym_frq.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "PFSA":
        return cls(
            pitilde=np.array(d["pitilde"], dtype=np.float64),
            connx=np.array(d["connx"], dtype=np.int32),
            pfsa_id=d.get("pfsa_id", 0),
            ann_err=d.get("ann_err"),
            mrg_eps=d.get("mrg_eps"),
            syn_str=d.get("syn_str"),
            sym_frq=None if d.get("sym_frq") is None else np.array(d["sym_frq"]),
        )

    # ---- text codec (reference automaton file format) -------------------
    def to_text(self) -> str:
        """Render the %-sectioned automaton format the reference writes
        (``patternly/detection.py:502-547``): %ANN_ERR %MRG_EPS %SYN_STR
        %SYM_FRQ %PITILDE %CONNX."""
        lines = []
        lines.append(f"%ANN_ERR: {self.ann_err if self.ann_err is not None else 0.0}")
        lines.append(f"%MRG_EPS: {self.mrg_eps if self.mrg_eps is not None else 0.0}")
        syn = " ".join(str(s) for s in (self.syn_str or []))
        lines.append(f"%SYN_STR: {syn}")
        frq = self.sym_frq if self.sym_frq is not None else self.pitilde.mean(axis=0)
        lines.append("%SYM_FRQ: " + " ".join(f"{v:g}" for v in frq) + " ")
        lines.append("%PITILDE: #size(" + f"{self.n_states},{self.alphabet_size})")
        for row in self.pitilde:
            lines.append(" ".join(f"{v:g}" for v in row) + " ")
        lines.append("%CONNX: #size(" + f"{self.n_states},{self.alphabet_size})")
        for row in self.connx:
            lines.append(" ".join(str(int(v)) for v in row) + " ")
        return "\n".join(lines) + "\n"

    def to_dot(self, name: str | None = None) -> str:
        """Graphviz source for the automaton (S6 parity with the
        reference's ``print_graph`` / DrawPFSA PNG sink,
        ``patternly/detection.py:257-269``) — driver-side, no engine
        involvement.  Edges are labeled "symbol / probability"."""
        title = name or f"pfsa_{self.pfsa_id}"
        lines = [f'digraph "{title}" {{', "  rankdir=LR;", "  node [shape=circle];"]
        for q in range(self.n_states):
            lines.append(f'  q{q} [label="{q}"];')
        for q in range(self.n_states):
            for s in range(self.alphabet_size):
                p = float(self.pitilde[q, s])
                if p > 0.0:
                    lines.append(
                        f'  q{q} -> q{int(self.connx[q, s])} [label="{s} / {p:.4g}"];'
                    )
        lines.append("}")
        return "\n".join(lines) + "\n"

    @classmethod
    def from_text(cls, text: str, pfsa_id: int = 0) -> "PFSA":
        """Parse the %-sectioned automaton format (also accepts the
        ``#KEY``-style ground-truth config variant of examples/M2.cfg)."""
        sections: dict[str, list[str]] = {}
        current: str | None = None
        for raw in text.splitlines():
            line = raw.strip()
            if not line:
                continue
            if line.startswith("%") or line.startswith("#"):
                head, _, rest = line.partition(":")
                key = head.lstrip("%#").strip().upper()
                if key in {"ANN_ERR", "MRG_EPS", "SYN_STR", "SYM_FRQ", "PITILDE", "CONNX", "DATA_LENGTH", "NUM_STREAMS"}:
                    current = key
                    sections[current] = []
                    rest = rest.split("#size")[0].strip()
                    if rest:
                        sections[current].append(rest)
                    continue
            if current is not None:
                sections[current].append(line.split("#size")[0].strip())

        def floats(key: str) -> list[float]:
            vals: list[float] = []
            for chunk in sections.get(key, []):
                chunk = chunk.strip().strip("[]")
                for tok in chunk.replace("[", " ").replace("]", " ").replace(",", " ").split():
                    vals.append(float(tok))
            return vals

        def matrix(key: str) -> list[list[float]]:
            rows: list[list[float]] = []
            body = " ".join(sections.get(key, []))
            if "[" in body:
                # bracketed [[a,b],[c,d]] style (M2.cfg)
                import re

                for m in re.findall(r"\[([^\[\]]+)\]", body):
                    rows.append([float(t) for t in m.replace(",", " ").split()])
            else:
                for chunk in sections.get(key, []):
                    toks = chunk.split()
                    if toks:
                        rows.append([float(t) for t in toks])
            return rows

        pit = np.array(matrix("PITILDE"), dtype=np.float64)
        cnx_rows = matrix("CONNX")
        if cnx_rows:
            cnx = np.array(cnx_rows, dtype=np.int32)
        else:
            # M2.cfg-style configs may omit CONNX for the 2-state binary
            # machine delta(q,sigma)=sigma convention
            cnx = np.tile(np.arange(pit.shape[1], dtype=np.int32), (pit.shape[0], 1))
        ann = floats("ANN_ERR")
        mrg = floats("MRG_EPS")
        syn = [int(v) for v in floats("SYN_STR")]
        frq = floats("SYM_FRQ")
        return cls(
            pitilde=pit,
            connx=cnx,
            pfsa_id=pfsa_id,
            ann_err=ann[0] if ann else None,
            mrg_eps=mrg[0] if mrg else None,
            syn_str=syn or None,
            sym_frq=np.array(frq) if frq else None,
        )


def library_to_df(spark: SparkSession, models: list[PFSA]):
    """Model library as a tiny DataFrame (broadcast side of scoring joins).

    One slice (plans.local_rows): the library is driver-sized and its
    every consumption is a broadcast build — default slicing ran one
    Python task per core per consumption (guide §5, r11 q250 profile)."""
    from patternly_spark.plans import local_rows

    return local_rows(spark, [m.to_row() for m in models], PFSA_SCHEMA)


def library_from_df(df) -> list[PFSA]:
    return [PFSA.from_row(r) for r in df.orderBy("pfsa_id").collect()]
