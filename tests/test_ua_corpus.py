"""UserAgent converter corpus (ottl/functions.py _UA_RULES — uap-core
family/OS/device essentials; reference delegates to uap-go,
ottlfuncs/func_user_agent.go). Real-world UA strings → expected
family / version / os / device.
"""

from __future__ import annotations

import pytest

from opentelemetry_collector_contrib_spark.ottl.compiler import (
    Context,
    compile_value,
)
from opentelemetry_collector_contrib_spark.ottl.parser import _Parser

UAS = [
    # (ua, name, version, os.name, os.version, device.name)
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/125.0.0.0 Safari/537.36",
     "Chrome", "125.0.0.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/17.4 Safari/605.1.15",
     "Safari", "17.4", "Mac OS X", "10.15.7", "Mac"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Mobile/15E148 "
     "Safari/604.1",
     "Mobile Safari", "17.4", "iOS", "17.4", "iPhone"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/117.0.5938.117 "
     "Mobile/15E148 Safari/604.1",
     "Chrome Mobile iOS", "117.0.5938.117", "iOS", "16.6", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8 Build/UQ1A.240205.002; wv) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/122.0.6261.64 Mobile Safari/537.36",
     "Chrome Mobile WebView", "122.0.6261.64", "Android", "14", "Pixel 8"),
    ("Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 "
     "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile "
     "Safari/537.36",
     "Samsung Internet", "23.0", "Android", "13", "Other"),
    ("Mozilla/5.0 (Android 12; Mobile; rv:126.0) Gecko/126.0 Firefox/126.0",
     "Firefox Mobile", "126.0", "Android", "12", "Other"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; rv:11.0) like Gecko",
     "IE", "11.0", "Windows", "7", "Other"),
    ("Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.0; Trident/5.0)",
     "IE", "9.0", "Windows", "Vista", "Other"),
    ("Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
     "Chrome", "120.0.0.0", "Chrome OS", "14541.0.0", "Other"),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)",
     "Googlebot", "2.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; bingbot/2.0; "
     "+http://www.bing.com/bingbot.htm)",
     "Bingbot", "2.0", "Other", None, "Spider"),
    ("Slackbot 1.0 (+https://api.slack.com/robots)",
     "Slackbot", "1.0", "Other", None, "Spider"),
    ("PostmanRuntime/7.36.0", "PostmanRuntime", "7.36.0",
     "Other", None, "Other"),
    ("Java/17.0.2", "Java", "17.0.2", "Other", None, "Other"),
    ("axios/1.6.7", "axios", "1.6.7", "Other", None, "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like "
     "Gecko) HeadlessChrome/119.0.6045.9 Safari/537.36",
     "HeadlessChrome", "119.0.6045.9", "Linux", None, "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 OPR/110.0.0.0",
     "Opera", "110.0.0.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Linux; Android 10; VOG-L29 Build/HUAWEIVOG-L29) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.88 Mobile "
     "Safari/537.36 EdgA/99.0.1150.78",
     "Edge Mobile", "99.0.1150.78", "Android", "10", "VOG-L29"),
    ("totally-unknown-thing", "Other", None, "Other", None, "Other"),
    # ---- round-4 corpus expansion ----
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Vivaldi/6.7",
     "Vivaldi", "6.7", "Windows", "10", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 "
     "MicroMessenger/8.0.38 NetType/WIFI Language/zh_CN",
     "WeChat", "8.0.38", "iOS", "16.5", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 13; SM-S918B Build/TP1A.220624.014; "
     "wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/113.0.5672.76 Mobile Safari/537.36 "
     "Instagram 281.0.0.19.105",
     "Instagram", "281.0.0.19.105", "Android", "13", "SM-S918B"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 15_6 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 "
     "[FBAN/FBIOS;FBAV/377.0.0.21.113]",
     "Facebook", "377.0.0.21.113", "iOS", "15.6", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 9; KFTRWI) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Silk/120.4.1 like Chrome/120.0.6099.230 Safari/537.36",
     "Amazon Silk", "120.4.1", "Android", "9", "Kindle"),
    ("Mozilla/5.0 (Mobile; LYF/F300B/LYF-F300B-001-02-26-130319; "
     "Android; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5",
     "Firefox Mobile", "48.0", "KaiOS", "2.5", "Other"),
    ("Mozilla/5.0 (SMART-TV; LINUX; Tizen 6.5) AppleWebKit/537.36 "
     "(KHTML, like Gecko) 85.0.4183.93/6.5 TV Safari/537.36",
     "Other", None, "Tizen", "6.5", "Other"),
    ("Mozilla/5.0 (PlayStation 5 3.03) AppleWebKit/605.1.15 (KHTML, "
     "like Gecko) Version/13.0 Safari/605.1.15",
     "Safari", "13.0", "PlayStation", "3.03", "PlayStation"),
    ("Mozilla/5.0 (Phone; HarmonyOS 4.0; NOH-AN00) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/114.0.5735.196 HuaweiBrowser/14.0.2.311 "
     "Mobile Safari/537.36",
     "HuaweiBrowser", "14.0.2.311", "HarmonyOS", "4.0", "Other"),
    ("aiohttp/3.9.3", "aiohttp", "3.9.3", "Other", None, "Other"),
    ("Mozilla/5.0 (compatible; GPTBot/1.2; "
     "+https://openai.com/gptbot)",
     "GPTBot", "1.2", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Baiduspider/2.0; "
     "+http://www.baidu.com/search/spider.html)",
     "Baiduspider", "2.0", "Other", None, "Spider"),
    ("Opera/9.80 (Android; Opera Mini/7.6.40234/36.1603; U; en) "
     "Presto/2.12.423 Version/12.16",
     "Opera Mini", "7.6.40234", "Android", None, "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:91.0) Gecko/20100101 "
     "Firefox/91.0 SeaMonkey/2.53.10",
     "SeaMonkey", "2.53.10", "Linux", None, "Other"),
    ("Mozilla/5.0 (Linux; U; Android 12; zh-cn; M2012K11AC "
     "Build/SKQ1.220303.001) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Version/4.0 Chrome/89.0.4389.116 MQQBrowser/13.4 Mobile "
     "Safari/537.36",
     "QQ Browser Mobile", "13.4", "Android", "12", "M2012K11AC"),
    ("w3m/0.5.3+git20230121", "w3m", "0.5.3", "Other", None, "Other"),
    ("Mozilla/5.0 (X11; FreeBSD amd64; rv:109.0) Gecko/20100101 "
     "Firefox/115.0",
     "Firefox", "115.0", "FreeBSD", None, "Other"),
]

# Round-5 extension: the curated rule set grown toward uap-core's
# coverage (bots/crawlers incl. AI-era agents, HTTP client libraries,
# regional and niche browsers, console/TV OSes). uap-core itself is not
# importable in this sandbox (no network, no vendored YAML), so family
# names follow uap-core conventions and every expectation below is
# pinned against THIS engine's rules; unmatched long-tail agents fall
# to Other exactly like uap's catch-all.
UAS += [
    # -- bots / crawlers --
    ("AdsBot-Google (+http://www.google.com/adsbot.html)",
     "AdsBot-Google", None, "Other", None, "Spider"),
    ("Mediapartners-Google", "Mediapartners-Google", None,
     "Other", None, "Spider"),
    ("FeedFetcher-Google; (+http://www.google.com/feedfetcher.html)",
     "FeedFetcher-Google", None, "Other", None, "Spider"),
    ("Google-Read-Aloud", "Google-Read-Aloud", None,
     "Other", None, "Spider"),
    ("APIs-Google (+https://developers.google.com/webmasters/APIs-Google.html)",
     "APIs-Google", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Storebot-Google/1.0)",
     "Storebot-Google", "1.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Google-InspectionTool/1.0)",
     "Google-InspectionTool", "1.0", "Other", None, "Spider"),
    ("GoogleOther", "GoogleOther", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; SeznamBot/4.0; "
     "+http://napoveda.seznam.cz/seznambot-intro/)",
     "SeznamBot", "4.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; archive.org_bot "
     "+http://archive.org/details/archive.org_bot)",
     "archive.org_bot", None, "Other", None, "Spider"),
    ("ia_archiver (+http://www.alexa.com/site/help/webmasters; "
     "crawler@alexa.com)",
     "ia_archiver", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; MojeekBot/0.11; "
     "+https://www.mojeek.com/bot.html)",
     "MojeekBot", "0.11", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Qwantify/2.4w; +https://www.qwant.com/)",
     "Qwantify", "2.4", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Amazonbot/0.1; "
     "+https://developer.amazon.com/support/amazonbot)",
     "Amazonbot", "0.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; PerplexityBot/1.0; "
     "+https://perplexity.ai/perplexitybot)",
     "PerplexityBot", "1.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; OAI-SearchBot/1.0; "
     "+https://openai.com/searchbot)",
     "OAI-SearchBot", "1.0", "Other", None, "Spider"),
    ("meta-externalagent/1.1 (+https://developers.facebook.com/docs/"
     "sharing/webmasters/crawler)",
     "meta-externalagent", "1.1", "Other", None, "Spider"),
    ("YisouSpider", "YisouSpider", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; 360Spider)",
     "360Spider", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; BLEXBot/1.0; +http://webmeup-crawler.com/)",
     "BLEXBot", "1.0", "Other", None, "Spider"),
    ("rogerbot/1.2 (https://moz.com/help/guides/moz-procedures/"
     "what-is-rogerbot)",
     "rogerbot", "1.2", "Other", None, "Spider"),
    ("serpstatbot/2.1 (advanced backlink tracking bot; "
     "https://serpstatbot.com/)",
     "serpstatbot", "2.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; DataForSeoBot/1.0; "
     "+https://dataforseo.com/dataforseo-bot)",
     "DataForSeoBot", "1.0", "Other", None, "Spider"),
    ("Mozilla/5.0+(compatible; UptimeRobot/2.0; "
     "http://www.uptimerobot.com/)",
     "UptimeRobot", "2.0", "Other", None, "Spider"),
    ("Pingdom.com_bot_version_1.4_(http://www.pingdom.com/)",
     "PingdomBot", "1.4", "Other", None, "Spider"),
    ("StatusCake_Pagespeed_Indev", "StatusCake", None,
     "Other", None, "Spider"),
    ("Site24x7", "Site24x7", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; coccocbot-web/1.0; "
     "+http://help.coccoc.com/searchengine)",
     "coccocbot", "1.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Yeti/1.1; +https://naver.me/spd)",
     "Yeti", "1.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; MSIE or Firefox mutant; "
     "not on Windows server;) Daum/4.1",
     "Daumoa", "4.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Discordbot/2.0; +https://discordapp.com)",
     "Discordbot", "2.0", "Other", None, "Spider"),
    ("TelegramBot (like TwitterBot)", "TelegramBot", None,
     "Other", None, "Spider"),
    ("LinkedInBot/1.0 (compatible; Mozilla/5.0; Jakarta Commons-"
     "HttpClient/3.1 +http://www.linkedin.com)",
     "LinkedInBot", "1.0", "Other", None, "Spider"),
    ("Twitterbot/1.0", "Twitterbot", "1.0", "Other", None, "Spider"),
    ("facebookexternalhit/1.1 "
     "(+http://www.facebook.com/externalhit_uatext.php)",
     "FacebookBot", "1.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Pinterestbot/1.0; "
     "+https://www.pinterest.com/bot.html)",
     "Pinterestbot", "1.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
     "AhrefsBot", "7.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; SemrushBot/7~bl; "
     "+http://www.semrush.com/bot.html)",
     "SemrushBot", "7", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)",
     "YandexBot", "3.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_5) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/13.1.1 Safari/605.1.15 (Applebot/0.1; "
     "+http://www.apple.com/go/applebot)",
     "Applebot", "0.1", "Mac OS X", "10.15.5", "Spider"),
    ("Mozilla/5.0 (Linux; Android 5.0) AppleWebKit/537.36 (KHTML, like "
     "Gecko) Mobile Safari/537.36 (compatible; Bytespider; "
     "spider-feedback@bytedance.com)",
     "Bytespider", None, "Android", "5.0", "Spider"),
    ("CCBot/2.0 (https://commoncrawl.org/faq/)",
     "CCBot", "2.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; MJ12bot/v1.4.8; http://mj12bot.com/)",
     "MJ12bot", "1.4.8", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; DotBot/1.2; "
     "+https://opensiteexplorer.org/dotbot)",
     "DotBot", "1.2", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Exabot/3.0; +http://www.exabot.com/go/robot)",
     "Exabot", "3.0", "Other", None, "Spider"),
    ("Sogou web spider/4.0(+http://www.sogou.com/docs/help/"
     "webmasters.htm#07)",
     "Sogou web spider", "4.0", "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible;PetalBot;"
     "+https://webmaster.petalsearch.com/site/petalbot)",
     "PetalBot", None, "Other", None, "Spider"),
    ("DuckDuckBot/1.1; (+http://duckduckgo.com/duckduckbot.html)",
     "DuckDuckBot", "1.1", "Other", None, "Spider"),
    ("Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/121.0.6167.85 Mobile "
     "Safari/537.36 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)",
     "Googlebot", "2.1", "Android", "6.0.1", "Spider"),
    ("Googlebot-Image/1.0", "Googlebot", None, "Other", None, "Spider"),
    ("Mozilla/5.0 (compatible; Yahoo! Slurp; "
     "http://help.yahoo.com/help/us/ysearch/slurp)",
     "Other", None, "Other", None, "Spider"),
    # -- HTTP client libraries / tools --
    ("libwww-perl/6.67", "libwww-perl", "6.67", "Other", None, "Other"),
    ("PHP/8.2.7", "PHP", "8.2.7", "Other", None, "Other"),
    ("GuzzleHttp/7", "Guzzle", "7", "Other", None, "Other"),
    ("WordPress/6.4.3; https://example.com",
     "WordPress", "6.4.3", "Other", None, "Other"),
    ("Dart/3.2 (dart:io)", "Dart", "3.2", "Other", None, "Other"),
    ("Scrapy/2.11.0 (+https://scrapy.org)",
     "Scrapy", "2.11.0", "Other", None, "Other"),
    ("Faraday v2.9.0", "Faraday", "2.9.0", "Other", None, "Other"),
    ("rest-client/2.1.0 (linux-gnu x86_64) ruby/3.0.2p107",
     "rest-client", "2.1.0", "Other", None, "Other"),
    ("Ruby", "Ruby", None, "Other", None, "Other"),
    ("HTTPie/3.2.2", "HTTPie", "3.2.2", "Other", None, "Other"),
    ("node-superagent/8.1.2", "node-superagent", "8.1.2",
     "Other", None, "Other"),
    ("Deno/1.40.2", "Deno", "1.40.2", "Other", None, "Other"),
    ("Bun/1.0.25", "Bun", "1.0.25", "Other", None, "Other"),
    ("reqwest/0.11.24", "reqwest", "0.11.24", "Other", None, "Other"),
    ("Apache-HttpAsyncClient/4.1.5 (Java/11.0.19)",
     "Apache-HttpAsyncClient", "4.1.5", "Other", None, "Other"),
    ("Jersey/2.39.1 (HttpUrlConnection 17.0.7)",
     "Jersey", "2.39.1", "Other", None, "Other"),
    ("Google-HTTP-Java-Client/1.43.3 (gzip)",
     "Google-HTTP-Java-Client", "1.43.3", "Other", None, "Other"),
    ("insomnia/8.6.1", "insomnia", "8.6.1", "Other", None, "Other"),
    ("curl/7.81.0", "curl", "7.81.0", "Other", None, "Other"),
    ("Wget/1.21.4", "Wget", "1.21.4", "Other", None, "Other"),
    ("python-requests/2.31.0", "Python Requests", "2.31.0",
     "Other", None, "Other"),
    ("Python-urllib/3.11", "Python-urllib", "3.11", "Other", None, "Other"),
    ("Go-http-client/2.0", "Go-http-client", "2.0", "Other", None, "Other"),
    ("Apache-HttpClient/4.5.14 (Java/17.0.8)",
     "Apache-HttpClient", "4.5.14", "Other", None, "Other"),
    ("okhttp/4.12.0", "okhttp", "4.12.0", "Other", None, "Other"),
    ("node-fetch/1.0 (+https://github.com/bitinn/node-fetch)",
     "node-fetch", "1.0", "Other", None, "Other"),
    ("python-httpx/0.27.0", "httpx", "0.27.0", "Other", None, "Other"),
    # -- browsers: new rule families --
    ("Mozilla/5.0 (Android 14; Mobile; rv:123.0) Gecko/123.0 "
     "Firefox/123.0 Focus/123.0",
     "Firefox Focus", "123.0", "Android", "14", "Other"),
    ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like "
     "Gecko) Version/4.0 Chrome/120.0.6099.193 Mobile Safari/537.36 "
     "DuckDuckGo/5",
     "DuckDuckGo Mobile", "5", "Android", "13", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36 Avast/121.0.0.0",
     "Avast Secure Browser", "121.0.0.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36 AVG/121.0.0.0",
     "AVG Secure Browser", "121.0.0.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 13_5 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) OPT/2.4.4 Mobile/15E148",
     "Opera Touch", "2.4.4", "iOS", "13.5", "iPhone"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/69.0.3947.100 Safari/537.36 "
     "2345Explorer/10.9.0.21486",
     "2345Explorer", "10.9.0.21486", "Windows", "7", "Other"),
    ("Mozilla/5.0 (Linux; Android 10; Redmi Note 7 Build/QKQ1.190910.002; "
     "wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/83.0.4103.106 Mobile Safari/537.36 Dolphin/12.2.8",
     "Dolphin", "12.2.8", "Android", "10", "Redmi Note 7"),
    ("Mozilla/5.0 (Linux; U; Android 12; zh-CN; M2102J2SC "
     "Build/SKQ1.211006.001) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Version/4.0 Chrome/100.0.4896.58 Quark/6.2.2.246 Mobile "
     "Safari/537.36",
     "Quark", "6.2.2.246", "Android", "12", "M2102J2SC"),
    ("Mozilla/5.0 (Linux; Android 11; V2055A Build/RP1A.200720.012; wv) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/87.0.4280.141 Mobile Safari/537.36 VivoBrowser/10.6.10.0",
     "VivoBrowser", "10.6.10.0", "Android", "11", "V2055A"),
    ("Mozilla/5.0 (Linux; U; Android 12; zh-cn; PENM00 Build/RKQ1.211103.002) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/92.0.4515.105 HeyTapBrowser/40.8.26.1 Mobile Safari/537.36",
     "HeyTapBrowser", "40.8.26.1", "Android", "12", "PENM00"),
    ("Mozilla/5.0 (Linux; U; Android 10; zh-cn; PCLM10 Build/QKQ1.200209.002) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/70.0.3538.80 Mobile Safari/537.36 OppoBrowser/10.5.1",
     "OppoBrowser", "10.5.1", "Android", "10", "PCLM10"),
    ("Mozilla/5.0 (Linux; U; Android 9; Redmi Note 5 Build/PKQ1.180904.001) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/71.0.3578.141 Mobile Safari/537.36 Mint Browser/3.9.3",
     "Mint Browser", "3.9.3", "Android", "9", "Redmi Note 5"),
    ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like "
     "Gecko) Ecosia android@110.0.5481.154 Chrome/110.0.5481.154 Mobile "
     "Safari/537.36",
     "Ecosia", "110.0.5481.154", "Android", "13", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Iron/121.0.6150.0 Chrome/121.0.6150.0 "
     "Safari/537.36",
     "Iron", "121.0.6150.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:115.0) Gecko/20100101 "
     "Thunderbird/115.7.0",
     "Thunderbird", "115.7.0", "Linux", None, "Other"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64; rv:38.0) Gecko/20100101 "
     "K-Meleon/76.0",
     "K-Meleon", "76.0", "Windows", "7", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:52.9) Gecko/20100101 "
     "Goanna/4.1 Firefox/52.9 Basilisk/20200710",
     "Basilisk", "20200710", "Windows", "10", "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/538.1 (KHTML, like "
     "Gecko) Otter/1.0.03 Safari/538.1",
     "Otter", "1.0.03", "Linux", None, "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Iridium/2023.12 Safari/537.36 Chrome/120.0.0.0",
     "Iridium", "2023.12", "Windows", "10", "Other"),
    ("SonyEricssonK800i/R1CB Browser/NetFront/3.3 Profile/MIDP-2.0 "
     "Configuration/CLDC-1.1",
     "NetFront", "3.3", "Other", None, "Other"),
    ("Links (2.29; Linux 6.1.0 x86_64; GNU C 12.2; text)",
     "Links", "2.29", "Linux", None, "Other"),
    ("ELinks/0.16.1 (textmode; Linux; 80x24-2)",
     "ELinks", "0.16.1", "Linux", None, "Other"),
    # -- browsers: existing families, wider OS / device / version sweep --
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Vivaldi/6.5",
     "Vivaldi", "6.5", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/114.0.0.0 Whale/3.21.192.18 "
     "Safari/537.36",
     "Whale", "3.21.192.18", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Windows NT 6.2) AppleWebKit/537.36 (KHTML, like Gecko) "
     "coc_coc_browser/103.0.152 Chrome/97.0.4692.152 Safari/537.36",
     "Coc Coc", "103.0.152", "Windows", "8", "Other"),
    ("Mozilla/5.0 (Windows NT 6.1) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Maxthon/5.3.8.2000 Chrome/57.0.2987.98 Safari/537.36",
     "Maxthon", "5.3.8.2000", "Windows", "7", "Other"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Sleipnir/4.7.5",
     "Sleipnir", "4.7.5", "Mac OS X", "10.15.7", "Mac"),
    ("Mozilla/5.0 (Linux; Android 9; SM-G960F Build/PPR1.180610.011; wv) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/66.0.3359.158 Mobile Safari/537.36 Puffin/9.0.0.50263AP",
     "Puffin", "9.0.0.50263", "Android", "9", "SM-G960F"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/63.0.3239.132 Safari/537.36 BIDUBrowser/8.7",
     "Baidu Browser", "8.7", "Windows", "7", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/58.0.3029.110 Safari/537.36 SE 2.X MetaSr 1.0",
     "Sogou Explorer", "1.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Linux; U; Android 13; xiaomi 13 Build/TKQ1.220905.001) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/112.0.5615.136 Mobile Safari/537.36 "
     "XiaoMi/MiuiBrowser/18.3.100316",
     "MiuiBrowser", "18.3.100316", "Android", "13", "xiaomi 13"),
    ("Mozilla/5.0 (Linux; Android 9; KFMAWI) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Silk/120.4.1 like Chrome/120.0.6099.210 Safari/537.36",
     "Amazon Silk", "120.4.1", "Android", "9", "Kindle"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20100101 "
     "Goanna/6.3 Firefox/102.0 PaleMoon/32.5.2",
     "Pale Moon", "32.5.2", "Windows", "10", "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:56.0) Gecko/20100101 "
     "Firefox/56.2.6 Waterfox/56.2.6",
     "Waterfox", "56.2.6", "Linux", None, "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/5.0 (KHTML, like "
     "Gecko) konqueror/22.12.3 Safari/5.0",
     "Konqueror", "22.12.3", "Linux", None, "Other"),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/17.0 Safari/605.1.15 Epiphany/45.1",
     "Epiphany", "45.1", "Ubuntu", None, "Other"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like "
     "Gecko) Midori/11.2 Chrome/114.0.0.0 Safari/537.36",
     "Midori", "11.2", "Linux", None, "Other"),
    ("Mozilla/5.0 (X11; Fedora; Linux x86_64) AppleWebKit/615.1 (KHTML, "
     "like Gecko) Falkon/23.08.4 QtWebEngine/6.6.1 Safari/615.1",
     "Falkon", "23.08.4", "Fedora", None, "Other"),
    ("Lynx/2.9.0dev.12 libwww-FM/2.14 SSL-MM/1.4.1 OpenSSL/3.0.11",
     "Lynx", "2.9.0", "Other", None, "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 "
     "Edg/120.0.2210.144",
     "Edge", "120.0.2210.144", "Windows", "10", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 "
     "EdgiOS/120.2210.150 Mobile/15E148 Safari/605.1.15",
     "Edge", "120.2210.150", "iOS", "17.2", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 13; SM-A536B) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/119.0.6045.193 Mobile Safari/537.36 "
     "OPR/79.2.4195.76680",
     "Opera Mobile", "79.2.4195.76680", "Android", "13", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/122.0.0.0 YaBrowser/24.4.0.0 "
     "Safari/537.36",
     "Yandex Browser", "24.4.0.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Linux; U; Android 12; en-US; CPH2219 "
     "Build/SKQ1.211019.001) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Version/4.0 Chrome/100.0.4896.58 UCBrowser/13.4.0.1306 Mobile "
     "Safari/537.36",
     "UC Browser", "13.4.0.1306", "Android", "12", "CPH2219"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/121.0 Mobile/15E148 "
     "Safari/605.1.15",
     "Firefox iOS", "121.0", "iOS", "17.1", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 14; SM-S918B) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/121.0.6167.101 Mobile Safari/537.36",
     "Chrome Mobile", "121.0.6167.101", "Android", "14", "Other"),
    ("Mozilla/5.0 (compatible; MSIE 10.0; Windows Phone 8.0; Trident/6.0; "
     "IEMobile/10.0; ARM; Touch; NOKIA; Lumia 920)",
     "IE Mobile", "10.0", "Windows Phone", "8.0", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/21B91 Instagram "
     "313.0.2.9.339",
     "Instagram", "313.0.2.9.339", "iOS", "17.1.1", "iPhone"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 "
     "[FBAN/FBIOS;FBAV/437.0.0.29.116]",
     "Facebook", "437.0.0.29.116", "iOS", "16.6", "iPhone"),
    ("Mozilla/5.0 (Linux; Android 13; 2210132C Build/TKQ1.220829.002; wv) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/116.0.0.0 Mobile Safari/537.36 MicroMessenger/8.0.47",
     "WeChat", "8.0.47", "Android", "13", "2210132C"),
    ("Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/94.0.4606.71 Safari/537.36 Core/1.94.192.400 "
     "QQBrowser/11.5.5250.400",
     "QQ Browser", "11.5.5250.400", "Windows", "10", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Safari "
     "Line/13.12.0",
     "LINE", "13.12.0", "iOS", "16.5", "iPhone"),
    ("Snapchat/12.33.1.19 (iPhone14,3; iOS 16.1.1; gzip)",
     "Snapchat", "12.33.1.19", "Other", None, "iPhone"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2_1 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/298.0.598148864 "
     "Mobile/15E148 Safari/604.1",
     "Google", "298.0.598148864", "iOS", "17.2.1", "iPhone"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) MyApp/1.2.3 Chrome/120.0.6099.56 "
     "Electron/28.1.0 Safari/537.36",
     "Electron", "28.1.0", "Windows", "10", "Other"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X) AppleWebKit/538.1 (KHTML, "
     "like Gecko) PhantomJS/2.1.1 Safari/538.1",
     "PhantomJS", "2.1.1", "Other", None, "Mac"),
    ("WhatsApp/2.23.20.0", "WhatsApp", "2.23.20.0", "Other", None, "Other"),
    # -- OS / device breadth --
    ("Mozilla/5.0 (Mobile; Nokia_8110_4G; rv:48.0) Gecko/48.0 "
     "Firefox/48.0 KAIOS/2.5",
     "Firefox Mobile", "48.0", "KaiOS", "2.5", "Other"),
    ("Mozilla/5.0 (SMART-TV; LINUX; Tizen 6.0) AppleWebKit/537.36 "
     "(KHTML, like Gecko) 85.0.4183.93/6.0 TV Safari/537.36",
     "Other", None, "Tizen", "6.0", "Other"),
    ("Mozilla/5.0 (hp-tablet; Linux; hpwOS/3.0.5; U; en-US) "
     "AppleWebKit/534.6 (KHTML, like Gecko) wOSBrowser/234.83 "
     "Safari/534.6 TouchPad/1.0",
     "Other", None, "webOS", "3.0.5", "Other"),
    ("Mozilla/5.0 (BB10; Touch) AppleWebKit/537.35+ (KHTML, like Gecko) "
     "Version/10.3.3.2205 Mobile Safari/537.35+",
     "Mobile Safari", "10.3.3.2205", "BlackBerry OS", "10.3.3.2205",
     "Other"),
    ("Mozilla/5.0 (Mobile; rv:26.0) Gecko/26.0 Firefox/26.0",
     "Firefox Mobile", "26.0", "Firefox OS", None, "Other"),
    ("Mozilla/5.0 (PlayStation 4 11.00) AppleWebKit/605.1.15 (KHTML, "
     "like Gecko)",
     "Other", None, "PlayStation", "11.00", "PlayStation"),
    ("Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) AppleWebKit/609.4 "
     "(KHTML, like Gecko) NF/6.0.2.22.4 NintendoBrowser/5.1.0.23519",
     "Other", None, "Nintendo", None, "Nintendo"),
    ("Roku/DVP-12.0 (12.0.0.4182-88)",
     "Other", None, "Roku", "12.0", "Roku"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; Xbox; Xbox One) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/48.0.2564.82 "
     "Safari/537.36 Edge/44.18363.8740",
     "Edge", "44.18363.8740", "Windows", "10", "XBOX"),
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1; SV1)",
     "IE", "6.0", "Windows", "XP", "Other"),
    ("Mozilla/4.0 (compatible; MSIE 5.5; Windows NT 5.0)",
     "IE", "5.5", "Windows", "2000", "Other"),
    ("Mozilla/4.0 (compatible; MSIE 5.0; Windows 98; DigExt)",
     "IE", "5.0", "Windows", "98", "Other"),
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows CE; IEMobile 6.12)",
     "IE Mobile", "6.12", "Windows", "CE", "Other"),
    ("Mozilla/5.0 (Windows NT 6.3; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36",
     "Chrome", "119.0.0.0", "Windows", "8.1", "Other"),
    ("Mozilla/5.0 (Windows Phone 10.0; Android 6.0.1; Microsoft; Lumia "
     "950) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/52.0.2743.116 "
     "Mobile Safari/537.36 Edge/15.14977",
     "Edge", "15.14977", "Windows Phone", "10.0", "Other"),
    ("Mozilla/5.0 (iPod touch; CPU iPhone OS 15_7 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.6 "
     "Mobile/15E148 Safari/604.1",
     "Mobile Safari", "15.6", "iOS", "15.7", "iPod"),
    ("Mozilla/5.0 (iPad; CPU OS 17_2 like Mac OS X) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/17.2 Mobile/15E148 Safari/604.1",
     "Mobile Safari", "17.2", "iOS", "17.2", "iPad"),
    ("Mozilla/5.0 (Apple TV 6,2; iOS 8.1.1; Scale/1.00)",
     "Other", None, "ATV OS X", None, "Apple TV"),
    ("Opera/9.80 (Windows NT 6.1; WOW64) Presto/2.12.388 Version/12.18",
     "Opera", "9.80", "Windows", "7", "Other"),
    ("Mozilla/5.0 (X11; OpenBSD amd64; rv:109.0) Gecko/20100101 "
     "Firefox/112.0",
     "Firefox", "112.0", "OpenBSD", None, "Other"),
    ("Mozilla/5.0 (X11; NetBSD amd64; rv:120.0) Gecko/20100101 "
     "Firefox/120.0",
     "Firefox", "120.0", "NetBSD", None, "Other"),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:125.0) Gecko/20100101 "
     "Firefox/125.0",
     "Firefox", "125.0", "Ubuntu", None, "Other"),
]


@pytest.mark.parametrize(
    "ua,name,ver,os_name,os_ver,device", UAS,
    ids=[u[1] + "/" + (u[2] or "-") for u in UAS],
)
def test_user_agent_corpus(spark, ua, name, ver, os_name, os_ver, device):
    node = _Parser(f'UserAgent("{ua}")').value()
    got = (
        spark.range(1)
        .select(compile_value(node, Context()).alias("m"))
        .collect()[0]["m"]
    )
    assert got["user_agent.name"] == name, ua
    assert got.get("user_agent.version") == ver, ua
    assert got["os.name"] == os_name, ua
    assert got.get("os.version") == os_ver, ua
    assert got["device.name"] == device, ua
    assert got["user_agent.original"] == ua
