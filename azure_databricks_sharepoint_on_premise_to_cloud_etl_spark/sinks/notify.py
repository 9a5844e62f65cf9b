"""Notification sink (SURVEY.md 2.2 K6, 2.12 R4).

The reference sends HTML failure/expiration e-mails over SMTP
(code/send_notification_email.py:11-31, code/ukg_open_census.py:596-676).
Side-effect edge, parameterized like the reference's widget args
(code/send_notification_email.py:35-40); the SMTP client is injectable
so tests capture messages instead of opening sockets.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class EmailMessage:
    sender: str
    recipients: list[str]
    subject: str
    html_body: str


@dataclass
class CapturingMailer:
    """Test double: records messages instead of sending."""

    sent: list[EmailMessage] = field(default_factory=list)

    def __call__(self, msg: EmailMessage) -> None:
        self.sent.append(msg)


def smtp_mailer(host: str, port: int = 25) -> Callable[[EmailMessage], None]:
    """Real SMTP sender: the production transport for the failure and
    expiration alerts (``smtplib`` is imported per send)."""

    def send(msg: EmailMessage) -> None:
        import smtplib
        from email.mime.multipart import MIMEMultipart
        from email.mime.text import MIMEText

        m = MIMEMultipart()
        m["From"] = msg.sender
        m["To"] = ", ".join(msg.recipients)
        m["Subject"] = msg.subject
        m.attach(MIMEText(msg.html_body, "html"))
        with smtplib.SMTP(host, port) as s:
            s.send_message(m)

    return send


def expiration_alert(
    mailer: Callable[[EmailMessage], None],
    sender: str,
    recipients: list[str],
    expired_qualifiers: list[str],
    context: str = "hourly census load",
) -> None:
    """Expiration alert (code/ukg_open_census.py:629-657): list of
    qualifiers whose schedule zones lapse inside the plan window."""
    rows = "".join(f"<li>{q}</li>" for q in sorted(expired_qualifiers))
    mailer(
        EmailMessage(
            sender=sender,
            recipients=recipients,
            subject=f"[engine] expiring schedule zones ({context})",
            html_body=f"<p>Zones expiring within the plan window:</p><ul>{rows}</ul>",
        )
    )


def failure_alert(
    mailer: Callable[[EmailMessage], None],
    sender: str,
    recipients: list[str],
    failures: list[tuple[str, str]],
    context: str,
) -> None:
    """Failure notification (R4, code/ukg_open_census.py:662-676)."""
    rows = "".join(f"<li><b>{k}</b>: {v}</li>" for k, v in failures)
    mailer(
        EmailMessage(
            sender=sender,
            recipients=recipients,
            subject=f"[engine] {context}: {len(failures)} failure(s)",
            html_body=f"<ul>{rows}</ul>",
        )
    )
