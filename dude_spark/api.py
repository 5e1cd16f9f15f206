"""Decorator API + plan compiler.

Replicates the reference's registration surface (``dude/base.py:143-353``):
``@select`` / ``@group`` / ``@save`` / lifecycle events / ``@start_requests``,
including group-resolution precedence (explicit ``group=`` beats ``@group``
beats default ``:root`` — ``base.py:393-400``), duplicate-``@group`` skip with
warning (``base.py:226-246``), and rule ordering (``rule.py:56-71``).

``compile()`` turns the registry into a :class:`CompiledPlan` — the broadcast-
able logical plan the extraction pandas UDF executes. It also compiles every
css/any/xpath selector on the driver, so an off-grammar one raises
ValueError naming it before any Spark job runs. There is no further
optimizer: like the reference, registration *is* the frontend; Catalyst
optimizes the relational glue around the UDF.
"""

from __future__ import annotations

import logging
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple, Union

from .dom import compile_selector
from .rule import RuleSpec, Selector, rule_sorter

logger = logging.getLogger(__name__)

__all__ = ["Scraper", "CompiledPlan", "app", "select", "group", "save", "startup", "shutdown", "pre_setup", "post_setup", "start_requests"]


@dataclass
class SeedRequest:
    """Non-GET seed (reference ``@start_requests`` httpx.Request objects,
    ``base.py:340-353``; drained after plain URLs, ``optional/utils.py:48-66``)."""

    url: str
    method: str = "GET"
    headers: Optional[Dict[str, str]] = None


@dataclass
class CompiledPlan:
    """Serializable, executor-ready plan."""

    # scrape-phase rules, pre-sorted by reference rule_sorter (rule.py:70-71)
    scrape_rules: List[RuleSpec] = field(default_factory=list)
    setup_rules: List[RuleSpec] = field(default_factory=list)      # priority-sorted
    navigate_rules: List[RuleSpec] = field(default_factory=list)   # priority-sorted
    # ordinal of each distinct group selector (sorted order) → deterministic group_id base
    group_ordinals: Dict[str, int] = field(default_factory=dict)


class Scraper:
    """Registry object; module-level singleton mirrors ``dude/context.py:7-17``."""

    def __init__(self) -> None:
        self.rules: List[RuleSpec] = []
        self.groups: Dict[Callable, Selector] = {}
        self.save_rules: Dict[Tuple[str, bool], Callable] = {}
        self.events: Dict[str, List[Callable]] = defaultdict(list)
        self.requests: List[SeedRequest] = []

    # -- decorators ----------------------------------------------------------
    def select(
        self,
        selector: Optional[str] = None,
        group: Optional[str] = None,
        setup: bool = False,
        navigate: bool = False,
        url_match: Union[str, Callable] = "*",
        priority: int = 100,
        css: Optional[str] = None,
        xpath: Optional[str] = None,
        text: Optional[str] = None,
        regex: Optional[str] = None,
        group_css: Optional[str] = None,
        group_xpath: Optional[str] = None,
        group_text: Optional[str] = None,
        group_regex: Optional[str] = None,
    ) -> Callable:
        """Register a handler to a selector (reference ``base.py:143-199``)."""

        def wrapper(func: Callable) -> Callable:
            sel = Selector(selector=selector, css=css, xpath=xpath, text=text, regex=regex)
            assert sel, "Any of selector, css, xpath, text and regex params should be present."
            self.rules.append(
                RuleSpec(
                    selector=sel,
                    group=Selector(
                        selector=group, css=group_css, xpath=group_xpath,
                        text=group_text, regex=group_regex,
                    ),
                    url_matcher=url_match,
                    handler=func,
                    handler_name=getattr(func, "__name__", "handler"),
                    setup=setup,
                    navigate=navigate,
                    priority=priority,
                )
            )
            return func

        return wrapper

    def group(
        self,
        selector: Optional[str] = None,
        css: Optional[str] = None,
        xpath: Optional[str] = None,
        text: Optional[str] = None,
        regex: Optional[str] = None,
    ) -> Callable:
        """Register a handler's group scope (reference ``base.py:201-249``);
        first registration wins, duplicates warned + skipped."""

        def wrapper(func: Callable) -> Callable:
            if not (selector or css or xpath or text or regex):
                raise Exception("Any of selector, css, xpath, text or regex selectors must be present")
            g = Selector(selector=selector, css=css, xpath=xpath, text=text, regex=regex)
            if func in self.groups:
                logger.warning(
                    "Group '%s' already exists for function '%s'. Skipping '%s'...",
                    self.groups[func], getattr(func, "__name__", func), g,
                )
            else:
                self.groups[func] = g
            return func

        return wrapper

    def save(self, format: str, is_per_page: bool = False) -> Callable:
        """Register a custom sink (reference ``base.py:251-267``)."""

        def wrapper(func: Callable) -> Callable:
            self.save_rules[format, is_per_page] = func
            return func

        return wrapper

    def _event(self, name: str) -> Callable:
        def deco(func: Callable) -> Callable:
            self.events[name].append(func)
            return func

        return deco

    def startup(self) -> Callable:
        return self._event("startup")

    def shutdown(self) -> Callable:
        return self._event("shutdown")

    def pre_setup(self) -> Callable:
        return self._event("pre-setup")

    def post_setup(self) -> Callable:
        return self._event("post-setup")

    def start_requests(self) -> Callable:
        """Reference ``base.py:340-353``: iterable of request seeds, drained
        after the plain URL frontier (``optional/utils.py:48-66``)."""

        def deco(func: Callable) -> Callable:
            for req in func():
                self.requests.append(req)
            return func

        return deco

    def run_event(self, name: str, *args) -> None:
        """Fire lifecycle hooks (reference ``base.py:408-430, 504-530``).

        The reference's ``pre-setup``/``post-setup`` receive the live page
        object; the page-table analogue passes the round's pages/extraction
        DataFrame. Zero-arg hooks keep working: the payload is only handed
        to callables that accept it.
        """
        import inspect

        for func in self.events[name]:
            if args:
                try:
                    # only positional-capable params count: a bare **kwargs
                    # hook cannot receive the payload positionally
                    takes = any(
                        p.kind
                        in (
                            p.POSITIONAL_ONLY,
                            p.POSITIONAL_OR_KEYWORD,
                            p.VAR_POSITIONAL,
                        )
                        for p in inspect.signature(func).parameters.values()
                    )
                except (TypeError, ValueError):
                    takes = False
                if takes:
                    func(*args)
                    continue
            func()

    # -- compiler -------------------------------------------------------------
    def _update_rule_groups(self) -> List[RuleSpec]:
        """Group precedence (reference ``base.py:393-400``)."""
        out = []
        for rule in self.rules:
            if rule.group:
                out.append(rule)
            elif rule.handler in self.groups:
                out.append(rule.replace_group(self.groups[rule.handler]))
            else:
                out.append(rule.replace_group(Selector(selector=":root")))
        return out

    def compile(self) -> CompiledPlan:
        rules = self._update_rule_groups()
        # on the driver: an off-grammar selector fails here, before any
        # Spark job runs or a state_dir is wiped
        for r in rules:
            for sel in (r.group, r.selector):
                compile_selector(sel.selector_type(), sel.to_str())
        scrape = sorted(
            (r for r in rules if not r.setup and not r.navigate), key=rule_sorter
        )
        setup = sorted((r for r in rules if r.setup), key=lambda r: r.priority)
        navigate = sorted((r for r in rules if r.navigate), key=lambda r: r.priority)
        group_keys = []
        for r in scrape:
            k = r.group.to_str(with_type=True)
            if k not in group_keys:
                group_keys.append(k)
        return CompiledPlan(
            scrape_rules=scrape,
            setup_rules=setup,
            navigate_rules=navigate,
            group_ordinals={k: i for i, k in enumerate(group_keys)},
        )


# module-level singleton API (reference dude/context.py:7-17)
app = Scraper()
select = app.select
group = app.group
save = app.save
startup = app.startup
shutdown = app.shutdown
pre_setup = app.pre_setup
post_setup = app.post_setup
start_requests = app.start_requests
