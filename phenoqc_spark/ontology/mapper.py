"""Term-resolution cascade with the reference's observed semantics.

Implements ``OntologyMapper.map_term`` (reference: src/phenoqc/mapping.py:
315-388) as a picklable, broadcast-friendly object.  Effective per-(term,
ontology) resolution order — SURVEY.md §2.13:

1. normalize (NFKC cascade)
2. custom mappings (normalized-key exact; a hit answers *all* ontologies)
3. (direct-ID regex tier is dead code in the reference — ``_extract_direct_id``
   is called but never defined, and the AttributeError is swallowed at
   mapping.py:347-348 — so it is intentionally NOT implemented)
4. exact dictionary lookup on the normalized term
5. fuzzy: WRatio over dict keys, insertion order, score_cutoff=threshold
6. prefix+space fallback ``^([a-z]+)\\s+(\\w+)$`` via PREFIX_ALIASES
7. None

The object is built once on the driver from OBO files and shipped to
executors via ``SparkContext.broadcast`` — the Spark analogue of the
reference pickling the whole mapper into each worker process
(batch_processing.py:1163-1198).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from . import fuzzy
from .normalize import normalize_text
from .obo import build_alt_to_primary, build_term_dict

PREFIX_ALIASES = {
    "hp": "HPO",
    "hpo": "HPO",
    "do": "DO",
    "doid": "DO",
    "mp": "MPO",
    "mpo": "MPO",
    "go": "GO",
    "mondo": "MONDO",
    "efo": "EFO",
    "mesh": "MESH",
}

_PREFIX_SPACE_RE = re.compile(r"^([a-z]+)\s+(\w+)$")

# resolver memo entries per process: open web text brings an unbounded
# stream of distinct misspellings, so the memo is cleared when full
_MEMO_MAX = 100_000


class TermResolver:
    """Broadcastable ontology dictionaries + the resolution cascade."""

    def __init__(
        self,
        ontologies: Dict[str, Dict[str, str]],
        default_ontologies: List[str],
        fuzzy_threshold: float = 80,
        custom_mappings: Optional[Dict[str, str]] = None,
        alt_to_primary: Optional[Dict[str, Dict[str, str]]] = None,
    ) -> None:
        if not default_ontologies:
            raise ValueError("No default ontologies specified in the configuration.")
        self.ontologies = ontologies
        self.default_ontologies = list(default_ontologies)
        self.fuzzy_threshold = float(fuzzy_threshold)
        self.custom_norm = {
            normalize_text(k): v for k, v in (custom_mappings or {}).items()
        }
        self.alt_to_primary = alt_to_primary or {}
        # ordered key tuples for the fuzzy tier (stable tie-break)
        self._key_lists = {o: tuple(d.keys()) for o, d in ontologies.items()}
        # the fuzzy prune's bound index per ontology (fuzzy.KeyIndex), built
        # here on the driver and shipped in the broadcast pickle, so workers
        # never build one; the rapidfuzz path does not use it
        self._key_index = (
            {}
            if fuzzy.HAVE_RAPIDFUZZ
            else {o: fuzzy.build_key_index(k) for o, k in self._key_lists.items() if k}
        )
        # per-process memo, the only state a worker adds; cleared when it
        # holds _MEMO_MAX entries (the cap is read here so the broadcast
        # copy carries the driver's value)
        self._cache: Dict[str, Dict[str, Optional[str]]] = {}
        self._memo_max = _MEMO_MAX

    # -- construction -------------------------------------------------------

    @classmethod
    def from_config(
        cls,
        config: dict,
        custom_mappings: Optional[dict] = None,
        fetcher=None,
        sleep=None,
    ) -> "TermResolver":
        """Build from the reference's YAML config shape.

        ``source: local`` reads ``file`` directly; ``source: url`` routes
        through :func:`fetch_ontology_with_cache` with the reference's
        cache/TTL/retry/offline semantics (reference: mapping.py:112-201;
        config keys ``url``/``format`` per ontology, top-level
        ``cache_expiry_days``/``offline``/``cache_dir``).  ``fetcher`` and
        ``sleep`` are injectable for tests (no network in CI)."""
        import os

        from .fetch import fetch_ontology_with_cache

        ontologies: Dict[str, Dict[str, str]] = {}
        alt_maps: Dict[str, Dict[str, str]] = {}
        cache_dir = config.get(
            "cache_dir", os.path.expanduser("~/.phenoqc_spark/ontologies")
        )
        for onto_id, info in (config.get("ontologies") or {}).items():
            source = str(info.get("source", "local")).lower()
            if source == "local":
                path = info.get("file")
                if not path:
                    raise FileNotFoundError(f"Ontology file missing for '{onto_id}'")
                if not os.path.exists(path):
                    raise FileNotFoundError(
                        f"Ontology file '{path}' for '{onto_id}' not found."
                    )
            elif source == "url":
                url = info.get("url")
                file_format = info.get("format")
                if not url or not file_format:
                    raise ValueError(
                        f"URL or format not specified for ontology '{onto_id}' in configuration."
                    )
                kwargs = {}
                if fetcher is not None:
                    kwargs["fetcher"] = fetcher
                if sleep is not None:
                    kwargs["sleep"] = sleep
                path = fetch_ontology_with_cache(
                    onto_id,
                    url,
                    cache_dir,
                    file_format=file_format,
                    ttl_days=config.get("cache_expiry_days", 30),
                    offline=bool(config.get("offline", False)),
                    **kwargs,
                )
            else:
                raise ValueError(f"Unknown source '{source}' for ontology '{onto_id}'.")
            ontologies[onto_id] = build_term_dict(path, info.get("format", "obo"))
            alt_maps[onto_id] = build_alt_to_primary(path, info.get("format"))
        return cls(
            ontologies,
            config.get("default_ontologies", []),
            config.get("fuzzy_threshold", 80),
            custom_mappings,
            alt_maps,
        )

    # -- resolution ----------------------------------------------------------

    def map_term_detailed(
        self, term, target_ontologies: Optional[List[str]] = None
    ) -> Dict[str, Optional[tuple]]:
        """Resolve one term; per ontology returns (id, tier, score) or None.

        tier ∈ {custom, exact, fuzzy, prefix}; score is the WRatio score for
        the fuzzy tier, 100.0 otherwise.  The id values are identical to the
        reference's ``map_term`` — tier/score are engine-side provenance.
        """
        targets = target_ontologies or self.default_ontologies
        term_norm = normalize_text(term)

        if self.custom_norm and term_norm in self.custom_norm:
            cid = self.custom_norm[term_norm]
            return {o: (cid, "custom", 100.0) for o in targets}

        out: Dict[str, Optional[tuple]] = {}
        for onto in targets:
            d = self.ontologies.get(onto, {})
            res: Optional[tuple] = None
            mapped = d.get(term_norm)
            if mapped is not None:
                res = (mapped, "exact", 100.0)
            elif d and term_norm:
                hit = fuzzy.extract_one(
                    term_norm,
                    self._key_lists.get(onto, ()),
                    self.fuzzy_threshold,
                    key_stats=self._key_index.get(onto),
                )
                if hit is not None:
                    fid = d.get(hit[0])
                    if fid is not None:
                        res = (fid, "fuzzy", float(hit[1]))
            if res is None:
                m = _PREFIX_SPACE_RE.match(term_norm)
                if m:
                    pref, core = m.group(1), m.group(2)
                    if PREFIX_ALIASES.get(pref) == onto:
                        pid = None
                        if onto == "HPO":
                            # isdecimal: exactly the digits int() accepts
                            # (isdigit also holds for e.g. U+1369 ፩)
                            pid = f"HP:{int(core):07d}" if core.isdecimal() else f"HP:{core}"
                        elif onto == "DO":
                            pid = f"DOID:{core}"
                        elif onto == "MPO":
                            pid = f"MP:{core}"
                        if pid is not None:
                            res = (pid, "prefix", 100.0)
            out[onto] = res
        return out

    def map_term(
        self, term, target_ontologies: Optional[List[str]] = None
    ) -> Dict[str, Optional[str]]:
        detailed = self.map_term_detailed(term, target_ontologies)
        return {o: (v[0] if v else None) for o, v in detailed.items()}

    def map_term_cached(self, term_norm: str) -> Dict[str, Optional[str]]:
        """Per-executor memoized resolution over already-normalized terms.

        ``link_terms_inline`` calls it once per batch-unique term, so the
        memo absorbs repeats across batches and tasks on one executor (hub
        terms resolve once); ``link_distinct_terms`` calls it once per
        distinct input row.  Cleared at ``_memo_max`` entries.
        """
        hit = self._cache.get(term_norm)
        if hit is None:
            hit = self.map_term_detailed(term_norm)
            if len(self._cache) >= self._memo_max:
                self._cache.clear()
            self._cache[term_norm] = hit
        return hit

    def map_terms(self, terms, target_ontologies=None):
        return {t: self.map_term(t, target_ontologies) for t in terms}

    def get_supported_ontologies(self) -> List[str]:
        return list(self.ontologies.keys())

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_cache"] = {}
        return state
