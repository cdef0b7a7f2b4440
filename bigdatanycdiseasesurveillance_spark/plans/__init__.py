from .inspect import executed_plan, plan_invariants  # noqa: F401
