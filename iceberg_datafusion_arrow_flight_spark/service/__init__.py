"""Session / prepared-statement / ticket service layer.

This is the part of the reference implemented in its OWN code (not in a
pinned dependency): the Flight SQL service state machine around a
per-connection engine context —

- ``contexts: DashMap<token, SessionContext>``   (lib.rs:80)
- ``statements: DashMap<handle, LogicalPlan>``   (lib.rs:81)
- ``results: DashMap<handle, Vec<RecordBatch>>`` (lib.rs:82; here a plan)

:mod:`.engine` reproduces that state machine over Spark sessions
(protocol-agnostic, directly testable); :mod:`.flight_server` is the
optional Arrow Flight front door (SURVEY §7.1 step 6).
"""

from .engine import EngineService, AuthError

__all__ = ["EngineService", "AuthError"]
