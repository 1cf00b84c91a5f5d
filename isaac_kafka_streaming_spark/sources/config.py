"""S4 — engine configuration mirroring the reference's
config/config.properties keys (src/main/resources/config/config.properties:1-18).

A frozen dataclass of the reference's defaults.  No code path reads it:
operators.thresholds keeps its own ACHIEVEMENT_THRESHOLDS tuple.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # kafka (config.properties:1-8)
    bootstrap_servers: str = "localhost:9092"
    raw_events_topic: str = "topic_logged_events"
    anonymous_events_topic: str = "topic_anonymous_logged_events"
    # intended derived-stream chain (config.properties:10-14)
    derived_streams: tuple[str, ...] = (
        "loggedEvents",
        "questionPartAttempts",
        "completedQuestions",
        "userAchievements",
        "userNotifications",
    )
    # achievements (config.properties:17)
    achievement_thresholds: tuple[int, ...] = (1, 5, 10, 20, 30, 50, 75, 100)
    # postgres (PostgresSqlDb.java)
    jdbc_url: str = ""
    jdbc_properties: dict = field(default_factory=dict)
    # streaming cadence (LoggedEventsListener.java:72)
    trigger_interval: str = "10 seconds"

